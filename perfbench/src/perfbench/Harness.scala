package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Sessions, Stage, Tables}
import graft.ops.{BlindZone, PatternExtraction, TrajectoryClustering}
import graft.queries.{Ext, Learn, Pipeline, Rel, Warehouse}

/** JVM side of the benchmark: one workload, one JVM, timed from outside
  * through the public functions of each layer. `perfbench/run.py` builds
  * the inputs, starts this main, checks the outputs and prints the result.
  *
  * Arguments (all `--key value`):
  *  - `--cpus N` (the session is `Sessions.local(N)`: `local[N]`, N
  *    shuffle partitions), `--mode fleet|registry`, `--data DIR`,
  *    `--seconds R`, `--trace 0|1`, `--out FILE`;
  *  - registry: `--names FILE` (the slice, in run order), `--dumps DIR`
  *    (the parquet result of every query of every pass, `<query>@<pass>`,
  *    plus `oracle_sql.json` for the oracle compare);
  *  - `--spans FILE` (trace only).
  *
  * The result file is one JSON object: pass timings, the output rows of
  * every pass, failures, and with `--trace 1` the per-layer metrics. */
object Harness {

  final case class Pass(wall: Double, cpu: Double, rows: Seq[Seq[Any]])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    progress("jvm started")
    val spark = Sessions.local(a("cpus"))
    progress("session ready")
    val rec = new LayerRecorder(spark.sparkContext)
    val out = a("mode") match {
      case "fleet" => new FleetRun(spark, rec, a).run()
      case "registry" => new RegistryRun(spark, rec, a).run()
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), out)
    spark.stop()
  }

  /** Runs `body` and returns (wall s, process cpu s, result). */
  def timed[T](body: => T): (Double, Double, T) = {
    val (c0, t0) = (Proc.cpuNanos(), System.nanoTime())
    val r = body
    ((System.nanoTime() - t0) / 1e9, (Proc.cpuNanos() - c0) / 1e9, r)
  }

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-key medians of per-pass metric maps (keys of the first map). */
  def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.headOption.map(_.keySet).getOrElse(Set.empty).map(k => k -> medianOf(ms.map(_(k)))).toMap

  def rowJson(r: Seq[Any]): String = Json.arr(r.map {
    case null => "null"
    case s: String => Json.str(s)
    case d: Double => Json.num(d)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case o => Json.str(o.toString)
  })

  def passJson(p: Pass): String = Json.obj(Seq("wall_s" -> Json.num(p.wall),
    "cpu_s" -> Json.num(p.cpu), "rows" -> Json.arr(p.rows.map(rowJson))))

  /** A progress line on stdout (the JVM log), stamped with JVM uptime. */
  def progress(msg: String): Unit =
    println(f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f] $msg")

  def errorText(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}".take(500)
}

import Harness._

/** Shared skeleton: a cold pass, the workload's untimed set-up, then
  * passes for `--seconds`. With `--trace 1` every untraced pass is
  * followed by a traced one inside a [[LayerRecorder]] window, so the
  * tracing overhead compares passes of the same warm state. */
abstract class WorkloadRun(spark: SparkSession, rec: LayerRecorder, a: Map[String, String]) {
  val dir: String = a("data")
  val seconds: Double = a("seconds").toDouble
  val trace: Boolean = a("trace") == "1"
  val failures = ArrayBuffer[String]()
  var attempted = 0

  /** One unit of measured work; returns its output rows. */
  def pass(): Seq[Seq[Any]]

  /** The same unit with spans: its rows, its own layer metrics, and a
    * function giving the row counts it reports, called after the
    * measurement window has closed so the counting is not measured. */
  def tracedPass(t: Tracer): (Seq[Seq[Any]], Map[String, Double], () => Map[String, Double])

  /** Untimed work after the cold pass and before the first timed pass. */
  def beforeTimed(): Unit = ()

  /** Untimed work once the passes are done, and (trace) the per-layer
    * metrics; returns extra entries of the result object. */
  def finish(passes: Seq[Pass], traced: Seq[(Pass, Map[String, Double])], t: Tracer): Seq[(String, String)]

  /** Runs `body` as one attempted operation; an exception is a failure. */
  def guarded(what: String)(body: => Pass): Option[Pass] = {
    attempted += 1
    try {
      val p = body
      progress(f"$what: ${p.wall}%.3f s wall, ${p.cpu}%.3f s cpu")
      Some(p)
    } catch { case e: Throwable => failures += s"$what: ${errorText(e)}"; None }
  }

  def timedPass(what: String): Option[Pass] = guarded(what) {
    val (w, c, rows) = timed(pass())
    Pass(w, c, rows)
  }

  def run(): String = {
    val cold = timedPass("cold pass")
    beforeTimed()
    val firstTimedMs = System.currentTimeMillis()
    val passes = ArrayBuffer[Pass]()
    val traced = ArrayBuffer[(Pass, Map[String, Double])]()
    val t = new Tracer
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      rounds += 1
      timedPass(s"pass $rounds").foreach(passes += _)
      if (trace) guarded(s"traced pass $rounds") {
        rec.open()
        val (w, c, (rows, own, counts)) = timed(tracedPass(t))
        val p = Pass(w, c, rows)
        val window = rec.close()
        traced += ((p, window ++ own ++ counts()))
        p
      }
    }
    progress("timed passes done")
    val tail = finish(passes.toSeq, traced.toSeq, t)
    a.get("spans").foreach(p => java.nio.file.Files.writeString(java.nio.file.Paths.get(p), t.toJson))
    val heap = Proc.retainedHeapMb()
    progress("workload done")
    Json.obj(Seq(
      "first_timed_ms" -> firstTimedMs.toString,
      "cold" -> cold.map(passJson).getOrElse("null"),
      "passes" -> Json.arr(passes.map(passJson)),
      "traced" -> Json.arr(traced.map(x => passJson(x._1))),
      "retained_heap_mb" -> Json.num(heap),
      "attempted" -> attempted.toString,
      "failures" -> Json.arr(failures.map(Json.str))) ++ tail)
  }

  /** Metrics every traced workload reports the same way. */
  def common(passes: Seq[Pass], traced: Seq[(Pass, Map[String, Double])]): Map[String, Double] = Map(
    "trace.overhead_s" -> (medianOf(traced.map(_._1.wall)) - medianOf(passes.map(_.wall))),
    "registry.index_builds" -> graft.core.IndexEvents.built.size.toDouble,
    "registry.index_reuses" -> graft.core.IndexEvents.reused.size.toDouble)
}

/** The blind-zone pipeline on a fleet corpus: each pass is the registered
  * `pipeline_blindzone` entry, collected (its histogram is the digest). */
final class FleetRun(spark: SparkSession, rec: LayerRecorder, a: Map[String, String])
    extends WorkloadRun(spark, rec, a) {

  private val entry = SparkEntry.queries("pipeline_blindzone")

  def pass(): Seq[Seq[Any]] = entry(spark, dir).collect().toSeq.map(_.toSeq)

  def tracedPass(t: Tracer): (Seq[Seq[Any]], Map[String, Double], () => Map[String, Double]) =
    FleetRun.tracedPipeline(spark, dir, t)

  private var checkStats = Map.empty[String, Double]

  /** The label check runs once per run, before the timed passes: it runs
    * stages 1 and 2 twice, so it also serves as their warm-up. */
  override def beforeTimed(): Unit = checkStats = labelCheck()

  def finish(passes: Seq[Pass], traced: Seq[(Pass, Map[String, Double])], t: Tracer): Seq[(String, String)] = {
    if (!trace) Seq.empty
    else {
      val m = medians(traced.map(_._2))
      // the local path keeps no scan statistics: its pair counts come from
      // the label check, which scans the same trajectories distributed
      val stats = if (m.get("stage2.path").contains(1.0)) m else checkStats
      val registry = Map("registry.query_s" -> medianOf(passes.map(_.wall))) ++
        FleetRun.families.map(f => s"registry.${f}_frac" -> (if (f == "pipeline") 1.0 else 0.0))
      Seq("layers" -> Json.nums(m ++ FleetRun.pairMetrics(stats, m.getOrElse("stage2.s", 0.0)) ++
        registry ++ common(passes, traced)))
    }
  }

  /** Once per run, untimed: the clustering labels of the default path must
    * equal those of the other branch, forced through `maxLocalPairs`. The
    * default call took the distributed path iff it left scan statistics.
    * Returns the distributed branch's pair-scan counts. */
  private def labelCheck(): Map[String, Double] = {
    attempted += 1
    try {
      val (pats, store) = Stage.materialize(FleetRun.patterns(spark, dir))
      val params = FleetRun.params(spark, dir)
      def labels(df: DataFrame): Array[Row] =
        df.select(col("linenumber"), col("id"), col("patternID"), col("cluster"))
          .orderBy(col("linenumber"), col("id"), col("patternID")).collect()
      val default = labels(TrajectoryClustering.cluster(pats, params))
      val defaultStats = TrajectoryClustering.lastStats.map(FleetRun.statsMap)
      val (otherPath, forced) = if (defaultStats.isDefined) ("local", Long.MaxValue) else ("distributed", 0L)
      val other = labels(TrajectoryClustering.cluster(pats, params, maxLocalPairs = forced))
      val stats = defaultStats.orElse(TrajectoryClustering.lastStats.map(FleetRun.statsMap))
      store.unpersist(true)
      val ok = default.nonEmpty && default.sameElements(other)
      progress(s"label check: ${default.length} labels, $otherPath path equal=$ok")
      if (!ok) failures += s"label check: default path and $otherPath path disagree"
      stats.getOrElse(Map.empty)
    } catch {
      case e: Throwable => failures += s"label check: ${errorText(e)}"; Map.empty
    }
  }
}

object FleetRun {
  val families = Seq("rel", "ext", "warehouse", "learn", "pipeline", "stream")

  /** Mirrors `Pipeline.syntheticFleet` (package-private there); the traced
    * run's digest must equal the registered entry's, which pins the two. */
  def fleet(s: SparkSession, dir: String): DataFrame =
    Tables.eventsTsUs(s, dir)
      .filter(col("event_type") === "click")
      .select(
        concat(lit("V"), col("user_id")).as("id"),
        concat(lit("L"), expr("(user_id div 100000000) * 8 + user_id % 8")).as("linenumber"),
        (lit(114.0) + (col("ts_us") % 86400000000L) / lit(86400000000.0) * 0.2).as("lng"),
        (lit(22.5) + (col("user_id") % 8).cast("double") * 0.01).as("lat"),
        timestamp_micros(col("ts_us")).as("t"))

  def patterns(s: SparkSession, dir: String): DataFrame =
    PatternExtraction.run(fleet(s, dir), busLine = None,
      cfg = PatternExtraction.Config(qualify = false))

  def params(s: SparkSession, dir: String): Map[String, TrajectoryClustering.Params] =
    fleet(s, dir).select(col("linenumber")).distinct().collect()
      .map(r => r.getString(0) -> TrajectoryClustering.Params(eps = 5.0, minSamples = 2)).toMap

  def statsMap(st: TrajectoryClustering.PairScanStats): Map[String, Double] = Map(
    "stage2.pairs" -> st.pairs.value.toDouble, "stage2.pruned" -> st.pruned.value.toDouble,
    "stage2.evaluated" -> st.evaluated.value.toDouble, "stage2.edges" -> st.edges.value.toDouble)

  /** Pair counts plus the ratios derived from them; all 0 without counts. */
  def pairMetrics(stats: Map[String, Double], stage2Seconds: Double): Map[String, Double] = {
    def g(k: String) = stats.getOrElse(k, 0.0)
    def ratio(x: Double, y: Double) = if (y > 0) x / y else 0.0
    Map("stage2.pairs" -> g("stage2.pairs"), "stage2.pruned" -> g("stage2.pruned"),
      "stage2.evaluated" -> g("stage2.evaluated"), "stage2.edges" -> g("stage2.edges"),
      "stage2.prune_ratio" -> ratio(g("stage2.pruned"), g("stage2.pairs")),
      "stage2.edge_yield" -> ratio(g("stage2.edges"), g("stage2.evaluated")),
      "stage2.pairs_per_s" -> ratio(g("stage2.pairs"), stage2Seconds))
  }

  /** `Pipeline.blindZone` + `blindZoneHist` in the same order, with a
    * counted barrier after each stage so each stage is timed on its own.
    * Returns the histogram rows, the stage metrics, and a function that
    * counts the stages' rows and then releases their stores. */
  def tracedPipeline(s: SparkSession, dir: String, t: Tracer)
      : (Seq[Seq[Any]], Map[String, Double], () => Map[String, Double]) =
    t.span("pipeline") {
      val (pats, patsStore) = t.span("stage1") {
        val m = Stage.materialize(patterns(s, dir))
        m._2.count(): Unit
        m
      }
      val (clustered, clusteredStore) = t.span("stage2") {
        val labels = TrajectoryClustering.cluster(pats, params(s, dir))
        val m = Stage.materialize(TrajectoryClustering.attach(pats, labels))
        m._2.count(): Unit
        m
      }
      val stats = TrajectoryClustering.lastStats.map(statsMap)
      val (out, outStore) = t.span("stage3") {
        val checksum = pats.agg(coalesce(sum(hash(col("id"), col("patternID"), col("t"),
          col("lng"), col("lat"))), lit(0L))).head().getLong(0)
        val graded = BlindZone.run(clustered)
          .select(col("linenumber"), col("id"), col("patternID"), col("lng"), col("lat"),
            col("t"), col("signal"))
        val perRow = clustered
          .join(graded, Seq("linenumber", "id", "patternID", "lng", "lat", "t"), "left")
          .select(col("linenumber"), col("id"), col("patternID"),
            unix_micros(col("t")).as("ts_us"), col("cluster"), col("signal"))
          .withColumn("patterns_checksum", lit(checksum))
        val m = Stage.materialize(perRow)
        m._2.count(): Unit
        m
      }
      val rows = t.span("histogram") {
        out.groupBy(col("linenumber"), col("cluster").cast("long").as("cluster"),
            coalesce(col("signal"), lit(-1.0)).as("signal"), col("patterns_checksum"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("linenumber"), col("cluster"), col("signal"))
          .collect().toSeq.map(_.toSeq)
      }
      def counts(): Map[String, Double] = {
        val m = Map(
          "stage1.rows_in" -> fleet(s, dir).count().toDouble,
          "stage1.rows_out" -> pats.count().toDouble,
          "stage1.patterns" -> pats.select(col("id"), col("patternID")).distinct().count().toDouble,
          "stage2.trajectories" ->
            pats.select(col("linenumber"), col("id"), col("patternID")).distinct().count().toDouble,
          "stage3.rows_in" -> clustered.count().toDouble,
          "stage3.graded" -> out.filter(col("signal").isNotNull).count().toDouble)
        Seq(patsStore, clusteredStore, outStore).foreach(_.unpersist(true))
        m
      }
      (rows, stats.getOrElse(Map.empty) ++ Map(
        "stage1.s" -> t.seconds("stage1"),
        "stage2.s" -> t.seconds("stage2"),
        "stage2.path" -> (if (stats.isDefined) 1.0 else 0.0),
        "stage3.s" -> t.seconds("stage3")), counts _)
    }
}

/** A fixed slice of the query registry: each pass runs every query of the
  * slice and writes its result to parquet, the way `graft.Verify` dumps
  * results for the DuckDB oracle compare. */
final class RegistryRun(spark: SparkSession, rec: LayerRecorder, a: Map[String, String])
    extends WorkloadRun(spark, rec, a) {

  private val names: Seq[String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(a("names"))).toArray
      .map(_.toString.trim).filter(_.nonEmpty).toSeq
  private val dumps = a("dumps")

  private def family(n: String): String =
    if (n.startsWith("stream_")) "stream"
    else if (Rel.all.contains(n)) "rel"
    else if (Ext.all.contains(n)) "ext"
    else if (Warehouse.all.contains(n)) "warehouse"
    else if (Learn.all.contains(n)) "learn"
    else if (Pipeline.all.contains(n)) "pipeline"
    else throw new IllegalArgumentException(s"$n is not a registered query")

  /** One query of the k-th pass (0 is the cold pass); its result goes to
    * `--dumps/<query>@<k>`, so every pass's results are kept and all of
    * them are compared with the oracles in one go. A failing query is
    * counted and the pass goes on. Returns (name, wall seconds, ok). */
  private def query(k: Int, n: String): Seq[Any] = {
    attempted += 1
    val (w, _, ok) = timed {
      try {
        SparkEntry.queries(n)(spark, dir).write.parquet(s"$dumps/$n@$k")
        true
      } catch { case e: Throwable => failures += s"$n: ${errorText(e)}"; false }
    }
    if (ok) written += s"$n@$k" -> n
    Seq(n, w, ok)
  }

  private val written = ArrayBuffer[(String, String)]()
  private var passCount = 0

  private def nextPass(): Int = { passCount += 1; passCount - 1 }

  // every pass runs the slice in the order of `--names`, so a timed pass
  // repeats the cold pass's sequence
  def pass(): Seq[Seq[Any]] = {
    val k = nextPass()
    names.map(query(k, _))
  }

  def tracedPass(t: Tracer): (Seq[Seq[Any]], Map[String, Double], () => Map[String, Double]) = {
    val k = nextPass()
    val rows = t.span("registry pass")(names.map(n => t.span(n)(query(k, n))))
    val byFamily = rows.groupMapReduce(r => family(r.head.toString))(_(1).asInstanceOf[Double])(_ + _)
    val total = byFamily.values.sum
    (rows, FleetRun.families.map(f => s"registry.${f}_frac" -> byFamily.getOrElse(f, 0.0) / total)
      .toMap + ("registry.query_s" -> total), () => Map.empty)
  }

  override def run(): String = {
    names.foreach(family) // an unknown name fails before any work
    super.run()
  }

  def finish(passes: Seq[Pass], traced: Seq[(Pass, Map[String, Double])], t: Tracer): Seq[(String, String)] = {
    // the oracle SQL of every result written, read by tools/check.py
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dumps))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dumps, "oracle_sql.json"),
      Json.obj(written.toSeq.flatMap { case (d, n) => SparkEntry.oracleSql.get(n).map(d -> Json.str(_)) }))
    val samples = Json.obj(names.map(n => n -> Json.arr(passes.flatMap(_.rows)
      .collect { case Seq(`n`, w: Double, true) => Json.num(w) })))
    val layers =
      if (!trace) Seq.empty
      else {
        // the pipeline's stage split on this corpus, once, outside the windows
        attempted += 1
        val (rows, stages) =
          try {
            val (rows, m, counts) = FleetRun.tracedPipeline(spark, dir, t)
            (rows, m ++ counts())
          } catch { case e: Throwable =>
            failures += s"traced pipeline: ${errorText(e)}"; (Seq.empty, Map.empty[String, Double])
          }
        Seq("layers" -> Json.nums(medians(traced.map(_._2)) ++ stages ++
          FleetRun.pairMetrics(stages, stages.getOrElse("stage2.s", 0.0)) ++ common(passes, traced)),
          "pipeline_rows" -> Json.arr(rows.map(rowJson)))
      }
    Seq("query_samples" -> samples) ++ layers
  }
}
