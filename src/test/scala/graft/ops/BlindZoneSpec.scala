package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Quantifiers

class BlindZoneSpec extends SparkSpec {
  import sqlImplicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // (linenumber, cluster, id, patternID, lng, lat, t) — two vehicles, one
  // cluster, plus a noise row. Speed belongs to the hop's origin row.
  private def fixture = Seq(
    // cluster 1, vehicle A: row1 is the fast hop origin (~30 m/s)
    ("L1", 1, "A", "1", 114.000, 22.500, ts("2019-02-01 08:00:00")),
    ("L1", 1, "A", "1", 114.001, 22.500, ts("2019-02-01 08:00:10")),
    ("L1", 1, "A", "1", 114.010, 22.500, ts("2019-02-01 08:00:40")),
    ("L1", 1, "A", "1", 114.011, 22.500, ts("2019-02-01 08:01:40")),
    // cluster 1, vehicle B: fastest hop also > 10 m/s (~20.5 m/s)
    ("L1", 1, "B", "1", 114.000, 22.510, ts("2019-02-01 09:00:00")),
    ("L1", 1, "B", "1", 114.012, 22.510, ts("2019-02-01 09:01:00")),
    ("L1", 1, "B", "1", 114.013, 22.510, ts("2019-02-01 09:02:00")),
    // DBSCAN noise row
    ("L1", -1, "A", "2", 114.5, 22.9, ts("2019-02-01 10:00:00"))
  ).toDF("linenumber", "cluster", "id", "patternID", "lng", "lat", "t")

  test("noise rows dropped; argmax-speed row graded") {
    val out = BlindZone.run(fixture)
    assert(out.filter($"cluster" === -1).count() == 0)
    val a = out.filter($"id" === "A").orderBy($"t")
      .select($"signal").collect().map(r => Option(r.get(0)))
    assert(a(1).nonEmpty, "argmax-speed row (fast hop origin) must be graded")
  }

  test("full upgrade chain: every vehicle fast → 1.0") {
    val out = BlindZone.run(fixture)
    val graded = out.filter($"signal".isNotNull)
      .select($"signal").as[Double].collect().toSet
    assert(graded == Set(1.0), s"got $graded")
  }

  test("one-step propagation: fills exactly the row after a graded row") {
    val out = BlindZone.run(fixture).filter($"id" === "A").orderBy($"t")
      .select($"signal").collect().map(r => Option(r.get(0)))
    // row1 graded (argmax), row2 inherits, row3 does NOT (single lag, not
    // a running fill — reference semantics, BZ-S:153–160)
    assert(out(1).contains(1.0), s"argmax row: ${out.toSeq}")
    assert(out(2).contains(1.0), s"one-step fill: ${out.toSeq}")
    assert(out(3).isEmpty, s"no running fill: ${out.toSeq}")
  }

  test("slow cluster stays at 0.5") {
    val slow = Seq(
      ("L1", 7, "C", "1", 114.000, 22.500, ts("2019-02-01 08:00:00")),
      ("L1", 7, "C", "1", 114.0001, 22.500, ts("2019-02-01 08:01:00")),
      ("L1", 7, "C", "1", 114.0002, 22.500, ts("2019-02-01 08:02:00"))
    ).toDF("linenumber", "cluster", "id", "patternID", "lng", "lat", "t")
    val out = BlindZone.run(slow)
    val graded = out.filter($"signal".isNotNull).select($"signal")
      .as[Double].collect().toSet
    assert(graded == Set(0.5))
  }

  test("coverage filter drops clusters below threshold") {
    // 4 vehicles on L1; cluster 9 covers only 1 of 4 (< floor(0.75*4)=3)
    val rows = Seq(
      ("L1", 8, "V1", "1", 114.0, 22.5, ts("2019-02-01 08:00:00")),
      ("L1", 8, "V2", "1", 114.0, 22.5, ts("2019-02-01 08:00:00")),
      ("L1", 8, "V3", "1", 114.0, 22.5, ts("2019-02-01 08:00:00")),
      ("L1", 8, "V4", "1", 114.0, 22.5, ts("2019-02-01 08:00:00")),
      ("L1", 9, "V1", "2", 114.1, 22.6, ts("2019-02-01 09:00:00"))
    ).toDF("linenumber", "cluster", "id", "patternID", "lng", "lat", "t")
    val out = BlindZone.run(rows)
    assert(out.filter($"cluster" === 9).count() == 0)
    assert(out.filter($"cluster" === 8).count() == 4)
  }

  test("lineScoped=false reproduces the reference's cluster-id collision") {
    // same cluster id 0 on two lines; fleet-wide coverage counts both
    val rows = Seq(
      ("L1", 0, "V1", "1", 114.0, 22.5, ts("2019-02-01 08:00:00")),
      ("L2", 0, "V2", "1", 115.0, 23.5, ts("2019-02-01 08:00:00"))
    ).toDF("linenumber", "cluster", "id", "patternID", "lng", "lat", "t")
    val merged = BlindZone.run(rows, BlindZone.Config(lineScoped = false))
    // bug-compatible: the two lines' cluster-0 merge into one qualified
    // cluster covering 2/2 vehicles
    assert(merged.count() == 2)
    val scoped = BlindZone.run(rows)
    // line-scoped: each line's cluster 0 covers its own 1/1 fleet
    assert(scoped.count() == 2)
    assert(scoped.select($"linenumber").distinct().count() == 2)
  }

  /** The four grading steps as written before the closed form
    * (BZ-S:103–165): step 3 re-checks every (vehicle, pattern) for a 0.75
    * through its own aggregate and join. */
  private def referenceGrade(df: DataFrame, cfg: BlindZone.Config): DataFrame = {
    val key = if (cfg.lineScoped) Seq("linenumber", "cluster") else Seq("cluster")
    val keyCols = key.map(col)
    val wSpeed = Window.partitionBy((key ++ Seq("id", "patternID")).map(col): _*)
      .orderBy(col("speed").desc, col("t"))
    val s1 = df
      .withColumn("_rn", row_number().over(wSpeed))
      .withColumn("signal", when(col("_rn") === 1, 0.5))
      .drop("_rn")
    val c1 = s1.groupBy((key :+ "id").map(col): _*)
      .agg(Quantifiers.existsFlag(
        col("signal") === 0.5 && col("speed") > BlindZone.UpgradeSpeedMps).as("_has"))
      .groupBy(keyCols: _*).agg(min(col("_has")).as("_all_valid"))
    val s2 = s1.join(broadcast(c1), key, "left")
      .withColumn("signal",
        when(col("signal") === 0.5 && col("_all_valid") === 1, 0.75)
          .otherwise(col("signal")))
      .drop("_all_valid")
    val c2 = s2.groupBy((key ++ Seq("id", "patternID")).map(col): _*)
      .agg(Quantifiers.existsFlag(col("signal") === 0.75).as("_has"))
      .groupBy(keyCols: _*).agg(min(col("_has")).as("_all_075"))
    val s3 = s2.join(broadcast(c2), key, "left")
      .withColumn("signal",
        when(col("signal") === 0.75 && col("_all_075") === 1, 1.0)
          .otherwise(col("signal")))
      .drop("_all_075")
    val wTime = Window.partitionBy((key ++ Seq("id", "patternID")).map(col): _*)
      .orderBy("t")
    s3.withColumn("_prev", lag(col("signal"), 1).over(wTime))
      .withColumn("signal",
        when(col("signal").isNull && col("_prev").isNotNull, col("_prev"))
          .otherwise(col("signal")))
      .drop("_prev")
  }

  /** A seeded clustered fleet: 3 lines (one of them null), clusters 0
    * and 1 plus noise, 6 vehicles with 3 patterns each. Vehicle V0's
    * pattern 1 runs on two lines; V5 crawls (no hop above 10 m/s); some
    * pings have NaN coordinates; every fourth pattern shuttles between
    * two points at a fixed step, so its hops tie on speed. Times within a
    * pattern are distinct. */
  private def clusteredFleet(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val lines = Seq("L1", "L2", null)
    val rows = for {
      v <- 0 until 6
      pat <- 1 to 3
      row <- {
        val shuttle = (v * 3 + pat) % 4 == 0
        val line = lines((v + pat) % 3)
        val cluster = if (rnd.nextInt(8) == 0) -1 else rnd.nextInt(2)
        val n = 2 + rnd.nextInt(5)
        (0 until n).map { k =>
          val onLine = if (v == 0 && pat == 1 && k >= n / 2) "L2" else line
          val (lng, lat) =
            if (rnd.nextInt(12) == 0) (Double.NaN, 22.5)
            else if (shuttle) (114.0 + (k % 2) * 0.004, 22.5)
            else if (v == 5) (114.0 + k * 1e-5, 22.5)
            else (114.0 + rnd.nextDouble() * 0.05, 22.5 + rnd.nextDouble() * 0.05)
          val sec = if (shuttle) k * 20 else k * 20 + rnd.nextInt(15)
          (onLine, cluster, s"V$v", pat.toString, lng, lat,
            ts(f"2019-02-01 0${pat + 6}:${sec / 60}%02d:${sec % 60}%02d"))
        }
      }
    } yield row
    rows.toDF("linenumber", "cluster", "id", "patternID", "lng", "lat", "t")
  }

  private def sortedStrings(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("closed-form grading returns the step-by-step rows on seeded fleets") {
    var grades = Set.empty[Double]
    for (seed <- 1 to 6; lineScoped <- Seq(true, false)) {
      // a lower coverage bar than the default, so that some clusters of
      // this small fleet qualify on every seed
      val cfg = BlindZone.Config(coverageFraction = 0.5, lineScoped = lineScoped)
      val speeds = BlindZone.qualifyAndSpeed(clusteredFleet(seed), cfg)
      val closed = BlindZone.gradeSignal(speeds, cfg)
      assert(closed.columns.toSeq == referenceGrade(speeds, cfg).columns.toSeq)
      val got = sortedStrings(closed)
      assert(got.nonEmpty && got == sortedStrings(referenceGrade(speeds, cfg)),
        s"seed $seed lineScoped=$lineScoped")
      grades ++= closed.filter($"signal".isNotNull).select($"signal").as[Double]
        .collect()
    }
    // the fixtures reach both grades, and 0.75 never survives
    assert(grades == Set(0.5, 1.0), s"grades seen: $grades")
  }

  test("closed-form grading: a null cluster key stays at 0.5, as step by step") {
    // gradeSignal called directly: null clusters and lines are not
    // filtered, and every hop is fast, so a non-null key reaches 1.0
    val fleet = clusteredFleet(7)
      .withColumn("cluster", when($"cluster" === -1, lit(null)).otherwise($"cluster"))
      .withColumn("speed", lit(30.0))
    for (lineScoped <- Seq(true, false)) {
      val cfg = BlindZone.Config(lineScoped = lineScoped)
      val closed = BlindZone.gradeSignal(fleet, cfg)
      assert(sortedStrings(closed) == sortedStrings(referenceGrade(fleet, cfg)))
      val nullKey = if (lineScoped) $"linenumber".isNull || $"cluster".isNull
        else $"cluster".isNull
      val nullGrades = closed.filter(nullKey && $"signal".isNotNull)
        .select($"signal").as[Double].collect().toSet
      assert(nullGrades == Set(0.5), s"lineScoped=$lineScoped: $nullGrades")
      assert(closed.filter(!nullKey && $"signal" === 1.0).count() > 0)
    }
  }
}
