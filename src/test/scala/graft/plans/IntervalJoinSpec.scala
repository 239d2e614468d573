package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class IntervalJoinSpec extends AnyFunSuite {

  private lazy val extSpark: SparkSession = {
    SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    SparkSession.setDefaultSession(SparkTestSession.spark)
    SparkSession.setActiveSession(SparkTestSession.spark)
    GraftExtensions.ensureStrategies(s)
    s
  }

  test("interval join exec: window bounds inclusive, key isolation") {
    import extSpark.implicits._
    val probe = Seq((1L, 100L, "p1"), (1L, 300L, "p2"), (2L, 100L, "q1"))
      .toDF("user", "pt", "pname")
    val build = Seq(
      (1L, 50L, "a"), (1L, 150L, "b"), (1L, 250L, "c"), (1L, 350L, "d"),
      (1L, 249L, "x"), (1L, 351L, "y"), // 1µs outside p2's window
      (2L, 160L, "z")) // user 2: 60 > 50 from q1
      .toDF("buser", "bt", "bname")
    val got = IntervalJoinApi.intervalJoin(probe, build,
        "user", "buser", "pt", "bt", windowMicros = 50L)
      .select(col("pname"), col("bname"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(
      ("p1", "a"), ("p1", "b"), // 100±50 → 50, 150 (inclusive bounds)
      ("p2", "c"), ("p2", "d"))) // 300±50 → 250, 350; 249/351 excluded
  }

  test("agrees with the plain range-condition join on real events") {
    val ev = graft.core.Tables.eventsTsUs(extSpark, "/root/testdata/sf0.001")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts_us").as("c_ts"))
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("err_id"),
        col("ts_us").as("e_ts"))
    val W = 600000000L
    val custom = IntervalJoinApi.intervalJoin(clicks, errs,
        "c_user", "e_user", "c_ts", "e_ts", W)
      .select(col("click_id"), col("err_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = clicks.join(errs,
        col("c_user") === col("e_user") &&
          abs(col("e_ts") - col("c_ts")) <= W)
      .select(col("click_id"), col("err_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(custom.nonEmpty && custom == direct)
  }

  test("left-outer mode keeps unmatched probes with nulls") {
    import extSpark.implicits._
    val probe = Seq((1L, 100L, "p1"), (1L, 900L, "p2"), (2L, 100L, "q1"))
      .toDF("user", "pt", "pname")
    val build = Seq((1L, 120L, "a")).toDF("buser", "bt", "bname")
    val got = IntervalJoinApi.intervalJoin(probe, build,
        "user", "buser", "pt", "bt", windowMicros = 50L, leftOuter = true)
      .select(col("pname"), col("bname"))
      .collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSet
    assert(got == Set(("p1", "a"), ("p2", null), ("q1", null)))
  }

  test("null keys never match, in either mode") {
    import extSpark.implicits._
    val probe = Seq((Option(1L), 100L, "p1"), (Option.empty[Long], 100L, "pn"))
      .toDF("user", "pt", "pname")
    val build = Seq((Option(1L), 110L, "a"), (Option.empty[Long], 100L, "bn"))
      .toDF("buser", "bt", "bname")
    val inner = IntervalJoinApi.intervalJoin(probe, build,
        "user", "buser", "pt", "bt", windowMicros = 50L)
      .select(col("pname"), col("bname"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(inner == Set(("p1", "a")))
    val outer = IntervalJoinApi.intervalJoin(probe, build,
        "user", "buser", "pt", "bt", windowMicros = 50L, leftOuter = true)
      .select(col("pname"), col("bname"))
      .collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSet
    assert(outer == Set(("p1", "a"), ("pn", null)))
  }
}
