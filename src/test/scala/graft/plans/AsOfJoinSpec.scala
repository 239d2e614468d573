package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class AsOfJoinSpec extends AnyFunSuite {

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

  test("custom as-of join exec: latest at-or-before match per key, left outer") {
    import extSpark.implicits._
    val probe = Seq(
      (1L, 100L, "p1"), (1L, 200L, "p2"), (1L, 50L, "p0"),
      (2L, 500L, "q1"),
      (3L, 10L, "r1")).toDF("user", "pt", "pname")
    val build = Seq(
      (1L, 90L, "a"), (1L, 150L, "b"), (1L, 201L, "c"),
      (2L, 500L, "z")).toDF("buser", "bt", "bname")

    val joined = AsOfJoinApi.asofJoin(probe, build,
      "user", "buser", "pt", "bt")
    // SparkPlan.nodeName strips the Exec suffix (prints "AsOfJoin"), and
    // AdaptiveSparkPlan hides its input from exists() — string-match the
    // physical plan instead
    assert(joined.queryExecution.executedPlan.toString.contains("AsOfJoin"))

    val got = joined
      .select(col("user"), col("pt"), col("pname"), col("bt"), col("bname"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) null else r.getString(4)))
      .toSet
    assert(got == Set(
      (1L, 50L, "p0", -1L, null), // before any build row
      (1L, 100L, "p1", 90L, "a"),
      (1L, 200L, "p2", 150L, "b"),
      (2L, 500L, "q1", 500L, "z"), // equal time matches
      (3L, 10L, "r1", -1L, null))) // key absent from build side
  }

  test("custom exec agrees with the union+window composition on real data") {
    val ev = graft.core.Tables.eventsTsUs(extSpark, "/root/testdata/sf0.001")
    val sgn = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("event_id")).as("s_event"))
      .select(col("user_id").as("s_user"), col("ts_us").as("s_ts"), col("s_event"))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("p_ts"), col("event_id").as("p_event"))

    val custom = AsOfJoinApi.asofJoin(pur, sgn,
        "user_id", "s_user", "p_ts", "s_ts")
      .select(col("p_event"), col("user_id"), col("p_ts"),
        coalesce(col("s_ts"), lit(-1L)).as("s_ts"),
        coalesce(col("s_event"), lit(-1L)).as("s_event"))
      .collect().map(_.toSeq).toSet

    val composed = graft.queries.Ext.joinAsof(extSpark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSet
    assert(custom.nonEmpty && custom == composed)
  }

  test("tolerance bound: a stale latest match beyond the bound yields nulls") {
    import extSpark.implicits._
    val probe = Seq((1L, 100L, "p1"), (1L, 300L, "p2")).toDF("user", "pt", "pname")
    val build = Seq((1L, 90L, "a")).toDF("buser", "bt", "bname")
    val got = AsOfJoinApi.asofJoin(probe, build,
        "user", "buser", "pt", "bt", tolerance = 50L)
      .select(col("pt"), col("bname"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSet
    assert(got == Set((100L, "a"), (300L, null))) // 300−90 = 210 > 50
  }

  test("null keys never match (SQL equi-join semantics)") {
    import extSpark.implicits._
    val probe = Seq((Option(1L), 100L, "p1"), (Option.empty[Long], 100L, "pn"))
      .toDF("user", "pt", "pname")
    val build = Seq((Option(1L), 90L, "a"), (Option.empty[Long], 50L, "bn"))
      .toDF("buser", "bt", "bname")
    val got = AsOfJoinApi.asofJoin(probe, build, "user", "buser", "pt", "bt")
      .select(col("pname"), col("bname"))
      .collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSet
    // the null-key probe row surfaces (left outer) but pairs with nothing
    assert(got == Set(("p1", "a"), ("pn", null)))
  }
}
