package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Geo, Quantifiers, TimeOps}

/** Stage 3 — blind-zone confidence grading, from `Standalone/Blind Zone
  * Detection.scala` (semantic ground truth; the parallel variant drifts,
  * SURVEY.md §5).
  *
  * Spark-first differences:
  *  - the reference's driver-side `distinct().count()` scalar
  *    (BZ-S:58–59) becomes a broadcast cross join — no driver round-trip,
  *    one job, same value;
  *  - haversine speed is fused column math, not a UDF (BZ-S:49);
  *  - time deltas are exact µs, not whole seconds (BZ-S:84 truncates to
  *    seconds — documented deviation: speeds here are exact);
  *  - `lineScoped` (default true) keys clusters as (linenumber, cluster)
  *    and measures coverage against the line's own fleet. The reference
  *    groups by bare `cluster` (BZ-S:62), but DBSCAN labels are assigned
  *    per line (TC-S:176–184), so cluster 0 of two different lines
  *    silently merges and coverage is measured against the whole city's
  *    fleet — a correctness bug at any scale. Set lineScoped=false for
  *    bug-compatible behavior.
  *
  * Signal semantics preserved exactly (BZ-S:103–165):
  *  step 1  fastest ping of each (cluster, vehicle, pattern) → 0.5;
  *  step 2  if EVERY vehicle in a cluster has a 0.5 ping faster than
  *          10 m/s, upgrade those pings to 0.75 (∀∃ quantifier);
  *  step 3  if EVERY (vehicle, pattern) in the cluster then carries a
  *          0.75, upgrade to 1.0 (always the case once step 2 fired:
  *          [[gradeSignal]] proves it and grades in closed form);
  *  step 4  one-step propagation: a null-signal ping directly after a
  *          graded ping inherits its grade. (As committed this fills
  *          exactly one row per graded ping — a single `lag` on the
  *          pre-fill column, not a running fill — preserved as-is.)
  */
object BlindZone {

  case class Config(
      coverageFraction: Double = 0.75, // BZ-S:59
      lineScoped: Boolean = true)

  /** Step 2's speed threshold in m/s (BZ-S:116). */
  private[ops] val UpgradeSpeedMps = 10.0

  private val byPattern = Window.partitionBy("id", "patternID").orderBy("t")

  private def clusterKey(cfg: Config): Seq[String] =
    if (cfg.lineScoped) Seq("linenumber", "cluster") else Seq("cluster")

  /** Keep clusters covering ≥ coverage×(fleet) and compute point-to-next
    * speed (BZ-S:52–101). Input: stage-2 output with `cluster`
    * (int, −1 = noise). */
  def qualifyAndSpeed(clustered: DataFrame, cfg: Config = Config()): DataFrame = {
    val pts = clustered.filter(col("cluster").isNotNull && col("cluster") =!= -1)
    val key = clusterKey(cfg)

    // coverage threshold (BZ-S:58–59 collects a scalar to the driver;
    // .toInt truncation preserved via floor). Line-scoped: per-line fleet.
    val perCluster = pts.groupBy(key.map(col): _*)
      .agg(countDistinct(col("id")).as("_idc"))
    val qualified = (if (cfg.lineScoped) {
      val fleet = pts.groupBy("linenumber")
        .agg(floor(countDistinct(col("id")) * cfg.coverageFraction).as("_threshold"))
      perCluster.join(broadcast(fleet), Seq("linenumber"))
    } else {
      val fleet = pts.select(
        floor(countDistinct(col("id")) * cfg.coverageFraction).as("_threshold"))
      perCluster.crossJoin(broadcast(fleet))
    })
      .filter(col("_idc") >= col("_threshold"))
      .select(key.map(col): _*)
    val kept = pts.join(broadcast(qualified), key, "left_semi")

    val dtSec = (TimeOps.micros(lead(col("t"), 1).over(byPattern)) -
      TimeOps.micros(col("t"))).cast("double") / 1e6
    kept
      .withColumn("_dt", coalesce(dtSec, lit(0.0)))
      .withColumn("_dist", coalesce(
        Geo.haversineMeters(col("lat"), col("lng"),
          lead(col("lat"), 1).over(byPattern), lead(col("lng"), 1).over(byPattern)),
        lit(0.0)))
      .withColumn("speed",
        when(col("_dt") === 0.0, 0.0).otherwise(col("_dist") / col("_dt")))
      .drop("_dt", "_dist")
  }

  /** Signal grading steps 1–4 (BZ-S:103–165), in closed form.
    *
    * Let a group be one (cluster key, id, patternID) partition and
    * `_all_valid` step 2's per-key flag (every vehicle of the key has a
    * 0.5 ping faster than the threshold). Step 1's `row_number` gives
    * every group EXACTLY one 0.5 ping (rn = 1). Step 2 turns it into 0.75
    * iff its key's `_all_valid` = 1, and that flag is the same for every
    * group of the key. So within a key either every group carries its
    * 0.75 (`_all_valid` = 1) or none does, which makes step 3's "every
    * (vehicle, pattern) carries a 0.75" the same flag as `_all_valid`,
    * and step 3 upgrades every 0.75 it sees. After step 3 the rn = 1 ping
    * holds 1.0 if `_all_valid` = 1 and 0.5 otherwise; every other ping is
    * null. Step 4 fills a null ping from the pre-fill grade one row back
    * in time. Hence
    * {{{
    * signal = rn = 1 ? (_all_valid = 1 ? 1.0 : 0.5) : lag(grade, 1) by t
    * }}}
    * and two facts follow: 0.75 never reaches the output, and a ping
    * whose cluster key has a null column stays at 0.5 (the reference's
    * per-key joins never match a null key, so such a key never
    * upgrades). `BlindZoneSpec` keeps the four steps as written as a test
    * reference and compares the two.
    *
    * Every window here partitions by the cluster key plus a suffix, so
    * one exchange on the key serves all four (steps 1 and 4 share their
    * partition spec); `_all_valid` is a window minimum over the
    * per-vehicle window maximum, not an aggregate joined back. The key
    * bounds the parallelism: lines × clusters when line-scoped, the
    * cluster ids alone otherwise. Output columns: the key, the other
    * input columns, then `signal`. */
  def gradeSignal(df: DataFrame, cfg: Config = Config()): DataFrame = {
    val key = clusterKey(cfg)
    val keyCols = key.map(col)
    val group = Window.partitionBy(keyCols ++ Seq(col("id"), col("patternID")): _*)
    val byVehicle = Window.partitionBy(keyCols :+ col("id"): _*)
    df.repartition(keyCols: _*)
      // step 1: argmax-speed ping per (cluster, vehicle, pattern)
      .withColumn("_rn", row_number().over(group.orderBy(col("speed").desc, col("t"))))
      // step 2: ∀ vehicle ∃ (argmax ping ∧ speed > threshold) per cluster
      .withColumn("_has", Quantifiers.existsFlag(
        col("_rn") === 1 && col("speed") > UpgradeSpeedMps).over(byVehicle))
      .withColumn("_all_valid", min(col("_has")).over(Window.partitionBy(keyCols: _*)))
      // steps 1–3 as one grade, then step 4's one-step propagation
      .withColumn("_grade", when(col("_rn") === 1,
        when(keyCols.map(_.isNotNull).reduce(_ && _) && col("_all_valid") === 1, 1.0)
          .otherwise(0.5)))
      .withColumn("signal", coalesce(col("_grade"),
        lag(col("_grade"), 1).over(group.orderBy("t"))))
      .select((keyCols ++ df.columns.filterNot(key.contains).map(col)) :+ col("signal"): _*)
  }

  /** Full stage 3. */
  def run(clustered: DataFrame, cfg: Config = Config()): DataFrame =
    gradeSignal(qualifyAndSpeed(clustered, cfg), cfg)
}
