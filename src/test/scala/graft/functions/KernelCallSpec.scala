package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

import graft.SparkSpec

/** Every native function gives the same rows interpreted
  * (`factoryMode=NO_CODEGEN`, whole-stage codegen off) and compiled
  * (`CODEGEN_ONLY`), and both equal its kernel called directly; a
  * wrong-typed argument fails analysis naming the function. */
class KernelCallSpec extends SparkSpec {

  /** One function over one argument-type combination. `kernel` takes the
    * arguments' Catalyst values, all non-null; `wrong` is an argument
    * list of a type the function rejects. */
  private case class Case(
      label: String, fn: String, types: Seq[DataType], rows: Seq[Seq[Any]],
      call: Seq[Expression] => Expression, kernel: Seq[Any] => Any,
      wrong: Seq[Column])

  private def arr(v: Any): ArrayData = v.asInstanceOf[ArrayData]

  // -- inputs -----------------------------------------------------------
  private def f(xs: Any*): Seq[Any] = xs.map {
    case x: Double => x.toFloat
    case x => x
  }
  private def doubleArray(v: Any): Any =
    if (v == null) null
    else v.asInstanceOf[Seq[Any]].map(x => if (x == null) null else x.asInstanceOf[Float].toDouble)
  private val floats = Seq(
    Seq(f(0.5, -1.25, 3.0, 2.0), f(1.5, 0.25, -2.0, 4.0)),
    Seq(f(1.0, 2.0), f(3.0)), // length mismatch
    Seq(f(1.0, null), f(3.0, 4.0)), // null element
    Seq(f(), f()), // empty
    Seq(null, f(1.0)))
  private val doubles = floats.map(_.map(doubleArray))
  private val ints = Seq(
    Seq(Seq(3, -7, 120, 0), Seq(-2, 5, 9, 127)),
    Seq(Seq(1, 2), Seq(3)),
    Seq(Seq(1, null), Seq(3, 4)),
    Seq(Seq(), Seq()),
    Seq(Seq(1), null))
  private val intLong = ints.map {
    case Seq(a, b) => Seq(a, if (b == null) null
      else b.asInstanceOf[Seq[Any]].map(x => if (x == null) null else x.asInstanceOf[Int].toLong))
  }
  private val texts = Seq("café au lait", "café naïve  résumé", "東京 大阪 東京",
    "ﬁle  ﬁle", "", "plain ascii text", null)

  // -- models -----------------------------------------------------------
  private lazy val pq = spark.sparkContext.broadcast(new PqModel(2, 2, Array(
    Array(Array(0.0, 0.0), Array(1.0, -1.0), Array(-2.0, 0.5)),
    Array(Array(0.25, 0.25), Array(-1.0, 3.0)))))
  private lazy val centroids = spark.sparkContext.broadcast(new CentroidModel(
    Array(4, 9, 2, 7),
    Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 0.0, 0.0), Array(0.5, 0.5, 0.5, 0.5)),
    Array(1.0, 1.0, 0.0, 1.0)))
  private lazy val bloom = {
    val b = BloomFilter.create(100, 0.01)
    Seq(1L, 42L, -7L).foreach(b.putLong)
    spark.sparkContext.broadcast(b)
  }
  private lazy val cms = {
    val c = CountMinSketch.create(0.01, 0.99, 7)
    Seq(1L, 1L, 42L, -7L, 42L, 42L).foreach(c.add(_))
    spark.sparkContext.broadcast(c)
  }
  private val pqVectors = Seq(
    Seq(f(0.5, -1.25, 3.0, 2.0)), Seq(f(1.0, 2.0, 3.0)), Seq(f(1.0, null, 0.0, 0.0)),
    Seq(f()), Seq(null))
  private val pqPairs = Seq(
    Seq(f(0.5, -1.25, 3.0, 2.0), Seq(1, 0)),
    Seq(f(0.5, -1.25, 3.0, 2.0), Seq(2, 1)),
    Seq(f(0.5, -1.25, 3.0, 2.0), Seq(3, 0)), // code out of range
    Seq(f(0.5, -1.25, 3.0, 2.0), Seq(-1, 0)), // negative code
    Seq(f(0.5, -1.25, 3.0, 2.0), Seq(1)), // codes length mismatch
    Seq(f(0.5, -1.25, 3.0, 2.0), Seq(1, null)),
    Seq(f(1.0, 2.0), Seq(1, 0)), // vector length mismatch
    Seq(f(), Seq()),
    Seq(null, Seq(1, 0)))

  private val F = ArrayType(FloatType)
  private val D = ArrayType(DoubleType)
  private val I = ArrayType(IntegerType)
  private val L = ArrayType(LongType)

  private def seqDotCase(label: String, at: DataType, bt: DataType, rows: Seq[Seq[Any]],
      kernel: (ArrayData, ArrayData) => Any) =
    Case(s"seq_dot $label", "seq_dot", Seq(at, bt), rows, e => SeqDot(e(0), e(1)),
      a => kernel(arr(a(0)), arr(a(1))), Seq(lit("x"), lit("y")))

  private lazy val cases: Seq[Case] = Seq(
    seqDotCase("float×float", F, F, floats, VectorMath.seqDotFF),
    seqDotCase("double×double", D, D, doubles, VectorMath.seqDotDD),
    seqDotCase("float×double", F, D,
      floats.zip(doubles).map { case (fr, dr) => Seq(fr(0), dr(1)) }, VectorMath.seqDotFD),
    seqDotCase("double×float", D, F,
      floats.zip(doubles).map { case (fr, dr) => Seq(dr(0), fr(1)) }, VectorMath.seqDotDF),
    seqDotCase("int×bigint", I, L, intLong, VectorMath.seqDotGen(_, _, 2, 3)),
    Case("seq_dot_long int×bigint", "seq_dot_long", Seq(I, L), intLong,
      e => SeqDotLong(e(0), e(1)), a => VectorMath.seqDotLong(arr(a(0)), arr(a(1)), 2, 3),
      Seq(lit("x"), lit("y"))),
    Case("seq_l2_long int×int", "seq_l2_long", Seq(I, I), ints,
      e => SeqL2Long(e(0), e(1)), a => VectorMath.seqL2Long(arr(a(0)), arr(a(1)), 2, 2),
      Seq(array(lit(1.5)), array(lit(2.5)))),
    Case("pq_codes float", "pq_codes", Seq(F), pqVectors,
      e => PqCodes(e(0), pq), a => PqMath.encode(arr(a(0)), pq.value, true),
      Seq(array(lit(1)))),
    Case("pq_codes double", "pq_codes", Seq(D), pqVectors.map(r => Seq(doubleArray(r(0)))),
      e => PqCodes(e(0), pq), a => PqMath.encode(arr(a(0)), pq.value, false),
      Seq(array(lit(1)))),
    Case("pq_adc", "pq_adc", Seq(F, I), pqPairs,
      e => PqAdc(e(0), e(1), pq), a => PqMath.adcDot(arr(a(0)), arr(a(1)), pq.value, true),
      Seq(array(lit(1)), array(lit(1)))),
    Case("pq_recon_norm_plus", "pq_recon_norm_plus", Seq(D, I),
      pqPairs.map(r => Seq(doubleArray(r(0)), r(1))),
      e => PqReconNormPlus(e(0), e(1), pq),
      a => PqMath.reconNormPlus(arr(a(0)), arr(a(1)), pq.value, false),
      Seq(array(lit(1)), array(lit(1)))),
    Case("pq_recon_norm", "pq_recon_norm", Seq(I), pqPairs.map(r => Seq(r(1))),
      e => PqReconNorm(e(0), pq), a => PqMath.reconNorm(arr(a(0)), pq.value),
      Seq(lit("x"))),
    Case("centroid_top_ids", "centroid_top_ids", Seq(F), pqVectors,
      e => CentroidTopIds(e(0), centroids, 2),
      a => CentroidMath.topCids(arr(a(0)), centroids.value, true, 2),
      Seq(array(lit(1)))),
    Case("bloom_might_contain_long", "bloom_might_contain_long", Seq(LongType),
      Seq(Seq(1L), Seq(42L), Seq(5L), Seq(-7L), Seq(null)),
      e => BloomMightContainLong(e(0), bloom),
      a => bloom.value.mightContainLong(a(0).asInstanceOf[Long]),
      Seq(array(lit(1)))),
    Case("cms_estimate_long", "cms_estimate_long", Seq(LongType),
      Seq(Seq(1L), Seq(42L), Seq(5L), Seq(-7L), Seq(null)),
      e => CmsEstimateLong(e(0), cms),
      a => cms.value.estimateCount(a(0).asInstanceOf[Long]),
      Seq(array(lit(1)))),
    Case("sim_hash64", "sim_hash64", Seq(StringType), texts.map(Seq(_)),
      e => SimHash64(e(0)), a => SimHashOps.ofText(a(0).asInstanceOf[UTF8String]),
      Seq(array(lit(1)))),
    Case("word_shingles", "word_shingles", Seq(ArrayType(StringType)),
      Seq(Seq(Seq("a", "b", "a", "b", "c")), Seq(Seq("東京", "大阪", "東京", "大阪")),
        Seq(Seq("x", null, "y", "z")), Seq(Seq("solo")), Seq(Seq()), Seq(null)),
      e => WordShingles(e(0), 2), a => ShingleOps.distinctShingles(arr(a(0)), 2),
      Seq(array(lit(1)))),
    Case("normalize_unicode NFC", "normalize_unicode", Seq(StringType), texts.map(Seq(_)),
      e => NormalizeUnicode(e(0), "NFC"),
      a => NormalizeOps.nfc(a(0).asInstanceOf[UTF8String]),
      Seq(array(lit(1)))),
    Case("normalize_unicode NFKD", "normalize_unicode", Seq(StringType), texts.map(Seq(_)),
      e => NormalizeUnicode(e(0), "nfkd"),
      a => NormalizeOps.nfkd(a(0).asInstanceOf[UTF8String]),
      Seq(array(lit(1)))),
    Case("jaro_winkler", "jaro_winkler", Seq(StringType, StringType),
      Seq(Seq("martha", "marhta"), Seq("café", "café"), Seq("東京都", "東京"),
        Seq("", "abc"), Seq("same", "same"), Seq("dixon", null)),
      e => JaroWinkler(e(0), e(1)),
      a => JaroWinkler.sim(a(0).toString, a(1).toString),
      Seq(array(lit(1)), lit("x"))),
    Case("geofence_mask double×double", "geofence_mask", Seq(DoubleType, DoubleType),
      Seq(Seq(114.003, 22.005), Seq(114.37, 22.02), Seq(114.0, 21.0), Seq(null, 22.0)),
      e => GeofenceMask(e(0), e(1)),
      a => GeofenceMask.mask(a(0).asInstanceOf[Double], a(1).asInstanceOf[Double]),
      Seq(array(lit(1)), lit(22.0))),
    Case("geofence_mask int×float (implicit casts)", "geofence_mask",
      Seq(IntegerType, FloatType),
      Seq(Seq[Any](114, 22.005f), Seq[Any](0, 0.0f), Seq[Any](114, null)),
      e => GeofenceMask(e(0), e(1)),
      a => GeofenceMask.mask(a(0).asInstanceOf[Int].toDouble,
        a(1).asInstanceOf[Float].toDouble),
      Seq(array(lit(1)), lit(22.0))))

  /** A Scala test value as the Catalyst value a kernel receives. */
  private def internal(v: Any): Any = v match {
    case s: Seq[_] => new GenericArrayData(s.map(internal).toArray[Any])
    case s: String => UTF8String.fromString(s)
    case x => x
  }

  /** A kernel's Catalyst result as the value a collected `Row` holds. */
  private def external(v: Any): Any = v match {
    case a: GenericArrayData => a.array.toSeq.map(external)
    case s: UTF8String => s.toString
    case x => x
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def run(c: Case): Seq[Any] = {
    val schema = StructType(StructField("id", IntegerType) +:
      c.types.zipWithIndex.map { case (t, i) => StructField(s"a$i", t) })
    val rows = c.rows.zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r) }
    // an RDD source, not a local Seq: the optimizer would evaluate a
    // projection over a LocalRelation itself, interpreted
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val call = Bridge.column(c.call(c.types.indices.map(i => Bridge.expression(col(s"a$i")))))
    df.select(col("id"), call).collect().sortBy(_.getInt(0)).toSeq.map(_.get(1))
  }

  for (c <- cases) test(s"${c.label}: interpreted = codegen = kernel") {
    val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(run(c))
    val compiled = withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(run(c))
    val direct = c.rows.map { r =>
      if (r.contains(null)) null else external(c.kernel(r.map(internal)))
    }
    assert(interpreted == direct, s"interpreted vs kernel, ${c.label}")
    assert(compiled == direct, s"codegen vs kernel, ${c.label}")
    val err = intercept[AnalysisException] {
      spark.range(1).select(Bridge.column(c.call(c.wrong.map(Bridge.expression))))
    }
    assert(err.getMessage.contains(c.fn), err.getMessage)
  }
}
