package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PatternExtractionSpec extends SparkSpec {
  import sqlImplicits._

  // One vehicle on line L1: 30s cadence, two 600s signal gaps each moving
  // ~8.2 km (beyond the 11.11×(threshold−1) ≈ 6.65 km stopped-bus guard),
  // terminus hits at both ends. Gap diffs [0,30,30,600,30,600,30] put the
  // p95 threshold at 600.
  private def gpsFixture = Seq(
    // (id, linenumber, lng, lat, t)  — starts at terminus 1 (114.0, 22.5)
    ("V1", "L1", 114.0000, 22.5000, "19-02-01 08:00:00"),
    ("V1", "L1", 114.0040, 22.5000, "19-02-01 08:00:30"),
    ("V1", "L1", 114.0080, 22.5000, "19-02-01 08:01:00"),
    // 600s gap, +0.08° ≈ 8.2 km → genuine signal loss (closes pattern 1)
    ("V1", "L1", 114.0880, 22.5000, "19-02-01 08:11:00"),
    ("V1", "L1", 114.0920, 22.5000, "2019-02-01 08:11:30"), // yyyy- format row
    // second 600s gap, +0.08° → closes pattern 2
    ("V1", "L1", 114.1720, 22.5000, "19-02-01 08:21:30"),
    // restart → pattern 3; ends at terminus 2 (114.176, 22.5)
    ("V1", "L1", 114.1760, 22.5000, "19-02-01 08:22:00"),
    // second vehicle: never reaches terminus 2 and has no gap → filtered
    ("V2", "L1", 114.0000, 22.5000, "19-02-01 09:00:00"),
    ("V2", "L1", 114.0040, 22.5000, "19-02-01 09:00:30")
  ).toDF("id", "linenumber", "lng", "lat", "t")

  private def busLineFixture = Seq(
    // existLine_id, direction, position, x (lat), y (lng)
    ("L1", 1, 1, 22.5000, 114.0000),
    ("L1", 2, 1, 22.5000, 114.1760)
  ).toDF("existLine_id", "direction", "position", "x", "y")

  test("prepare: mixed timestamp formats normalize; thresholds attach") {
    val prep = PatternExtraction.prepare(gpsFixture, Some(busLineFixture))
    assert(prep.schema("t").dataType.typeName == "timestamp")
    assert(prep.filter($"t".isNull).count() == 0)
    assert(prep.filter($"threshold".isNull).count() == 0)
    // V1's diffs [0,30,30,600,30,600,30] → p95 threshold = 600
    val thr = prep.filter($"id" === "V1").select($"threshold").head.getDouble(0)
    assert(thr == 600.0, s"threshold=$thr")
  }

  test("prepare: window threshold == the groupBy + join threshold for every id") {
    // the threshold was a groupBy("id") percentile joined back onto the
    // prepared rows; the window aggregate must give every id the same value
    val fleet = graft.queries.Pipeline.syntheticFleet(spark, sf001)
    for ((gps, busLine) <- Seq((gpsFixture, Some(busLineFixture)), (fleet, None))) {
      val prep = PatternExtraction.prepare(gps, busLine)
      val got = prep.select($"id", $"threshold").distinct().as[(String, Double)]
        .collect()
      val want = prep.groupBy($"id")
        .agg(expr("percentile_approx(time_diff, 0.95)")).as[(String, Double)]
        .collect().toMap
      assert(got.length == want.size && got.forall { case (id, t) => want(id) == t },
        s"${got.count { case (id, t) => want.get(id) != Some(t) }} of ${want.size} ids differ")
    }
  }

  test("prepare: terminus proximity marks direction/position") {
    val prep = PatternExtraction.prepare(gpsFixture, Some(busLineFixture))
    val first = prep.filter($"id" === "V1").orderBy($"t").select($"direction", $"position")
      .collect()
    assert(first.head.getInt(0) == 1 && first.head.getInt(1) == 1)
    assert(first.last.getInt(0) == 2 && first.last.getInt(1) == 2)
  }

  test("extract: gap splits patterns; unqualified vehicle dropped") {
    val out = PatternExtraction.run(gpsFixture, Some(busLineFixture))
    assert(out.filter($"id" === "V2").count() == 0, "V2 lacks terminus-2 hit")
    val v1 = out.filter($"id" === "V1").orderBy($"t")
      .select($"patternID").as[Long].collect()
    // each gap ping closes its pattern; the next ping restarts a new one
    assert(v1.toSeq == Seq(1L, 1L, 1L, 1L, 2L, 2L, 3L), s"got ${v1.toSeq}")
  }

  test("bug-compatible numbering reproduces the reference as committed") {
    // the committed machinery's pattern_id stays 0 and its null lower
    // bound drops every row (see extractPatterns doc) — preserved verbatim
    val out = PatternExtraction.run(gpsFixture, Some(busLineFixture),
      PatternExtraction.Config(restoredNumbering = false))
    assert(out.count() == 0)
    assert(out.columns.contains("patternID"))
  }

  test("patternID is monotone non-decreasing per vehicle") {
    val out = PatternExtraction.run(gpsFixture, Some(busLineFixture))
    val v1 = out.filter($"id" === "V1").orderBy($"t")
      .select($"patternID").as[Long].collect()
    assert(v1.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("stopped bus guard: long gap without movement does not split") {
    val gps = Seq(
      ("V3", "L1", 114.0000, 22.5000, "19-02-01 08:00:00"),
      ("V3", "L1", 114.0030, 22.5000, "19-02-01 08:00:30"),
      ("V3", "L1", 114.0031, 22.5000, "19-02-01 08:10:30"), // 600s gap, ~10m move
      ("V3", "L1", 114.1760, 22.5000, "19-02-01 08:11:00")  // terminus 2
    ).toDF("id", "linenumber", "lng", "lat", "t")
    val prep = PatternExtraction.prepare(gps, Some(busLineFixture))
    val pats = PatternExtraction.extractPatterns(prep)
    // guard zeroes the flag → single pattern IF the vehicle qualifies;
    // qualification needs a gap row mid-route OR terminus hits both ends
    val v3 = pats.filter($"id" === "V3").select($"patternID").as[Long].collect()
    assert(v3.nonEmpty && v3.toSet == Set(1L), s"got ${v3.toSet}")
  }

  /** A small file shaped like the reference's `Sample Data/gps.csv`
    * (FIXTURES.md §1): header row, zero-padded vehicle ids, `linenumber`
    * as a per-vehicle 1..N sequence, an `opath` column, and `yy-` and
    * `yyyy-` stamps mixed in one file. Four vehicles, 30 s cadence with
    * a 10-minute signal gap, every seventh stamp in the long format. */
  private def referenceShapedGpsCsv(): String = {
    val dir = java.nio.file.Files.createTempDirectory("gps_sample")
    val rows = for {
      v <- 1 to 4
      n <- 1 to 30
    } yield {
      val sec = n * 30 + (if (n > 15) 600 else 0)
      val year = if (n % 7 == 0) "2019" else "19"
      f"$v%05d,$n,${29 + 113 * n * v},${114.30 + v * 0.01 + n * 0.002}%.6f," +
        f"${22.60 + v * 0.005}%.6f,$year-02-01 ${8 + sec / 3600}%02d:" +
        f"${sec / 60 % 60}%02d:${sec % 60}%02d"
    }
    val path = dir.resolve("gps.csv")
    java.nio.file.Files.write(path,
      ("id,linenumber,opath,lng,lat,t" +: rows).mkString("\n").getBytes("UTF-8"))
    path.toString
  }

  test("reference sample data smoke: mixed formats, runs end to end") {
    val raw = spark.read.option("header", "true").csv(referenceShapedGpsCsv())
    // both stamp formats are in the input, and every stamp parses
    val formats = raw.select(graft.core.TimeOps.matchedFormat($"t").as("f"))
      .groupBy($"f").count().collect().map(r => Option(r.getString(0))).toSet
    assert(formats == graft.core.TimeOps.GpsFormats.map(Some(_)).toSet,
      s"formats=$formats")
    val prep = PatternExtraction.prepare(raw, busLine = None)
    assert(prep.filter($"t".isNull).count() == 0, "all timestamps must parse")
    val pats = PatternExtraction.extractPatterns(prep)
    // sample linenumber column is a per-vehicle sequence (FIXTURES.md) and
    // there is no bus_line blob → qualification may drop all vehicles;
    // the run must still be well-formed
    assert(pats.columns.contains("patternID"))
    assert(pats.count() >= 0)
  }
}
