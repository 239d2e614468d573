package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Geo, Quantifiers, TimeOps}

/** Stage 1 — GPS signal-loss pattern extraction, re-expressed Spark-first.
  *
  * Semantics from `Standalone/Pattern Extraction.scala` (the parallel
  * variant has two syntax defects and is not the ground truth — see
  * SURVEY.md §0); the preparation half from `Parallel/Pattern
  * Extraction.scala:38–129`.
  *
  * Architectural differences from the reference (same results, built for
  * scale):
  *  - ONE partitioned job instead of a driver loop / thread pool over bus
  *    lines (`Standalone:45–47`, `Parallel:268–286`): every window below
  *    partitions by vehicle id, so all lines process in parallel inside a
  *    single plan and the output is written `partitionBy("linenumber")`.
  *  - no driver-side `collect` of line numbers feeding an `isin`
  *    broadcast (`Parallel:47–50` — a self-filter no-op that would OOM the
  *    driver at 100 TB).
  *  - haversine is column math fused by codegen, not a UDF.
  *  - timestamps are normalized once (mixed `yy-`/`yyyy-` formats, a real
  *    property of the GPS feed) and arithmetic is exact integer µs.
  *
  * Restored intent, documented: the reference's committed pattern
  * numbering is dead code on its own inputs. Its bound/filter machinery
  * (`Standalone:123–172`) branches on a lag-state of 2 ("pattern start")
  * that its own flag computation (`Standalone:74`, `lag ∈ {0,1}`) can
  * never produce, so `pattern_id` stays 0, `pattern_lower_bound` stays
  * null, and the row filter (`Standalone:156–161`) evaluates null → drops
  * every row; even with the 2-states restored, the change-marker
  * renumbering (`Standalone:170–172`) requires a literal 0→1 transition
  * of `test`, which the null `test` rows in between prevent. What that
  * machinery evidently *means* — each pattern spans from a vehicle's
  * (re)start ping to the end of the next signal-loss episode, bounded by
  * ±threshold — is a textbook gaps-and-islands segmentation, implemented
  * here directly: a new pattern starts at the vehicle's first ping and at
  * the first normal ping after each genuine signal-loss episode (gap ≥
  * threshold, not explained by a stopped bus per the distance guard);
  * gap rows close out the pattern they interrupt. All thresholds and the
  * qualification filter are the reference's.
  */
object PatternExtraction {

  /** Per-vehicle quantile of inter-ping gaps used as the signal-loss
    * threshold (Parallel:124). */
  private val GapPercentile = 0.95

  /** Distance (m) to a line terminus that marks a direction/position hit
    * (Parallel:104). */
  private val TerminusRadiusM = 100.0

  /** Distance guard factor: a "gap" whose endpoints moved
    * < guard×(threshold−1) m is a stop, not a blind zone (Standalone:93). */
  private val GuardSpeedMps = 11.11

  /** @param qualify          false skips the vehicle qualification gate
    *                         (see [[extractPatterns]])
    * @param restoredNumbering true (default) = the gaps-and-islands
    *                           numbering restoring the reference's evident
    *                           intent (class doc); false = bug-compatible
    *                           with the reference AS COMMITTED, whose
    *                           numbering machinery is dead code — mirrors
    *                           the preserve-don't-silently-fix discipline
    *                           of `BlindZone.Config.lineScoped`. */
  case class Config(
      qualify: Boolean = true,
      restoredNumbering: Boolean = true)

  private val byVehicle = Window.partitionBy("id").orderBy("t")

  /** Stage 1a: normalize timestamps, compute inter-ping gaps, mark
    * direction/position from line termini, attach per-vehicle thresholds.
    *
    * Input: raw GPS `(id, linenumber, lng, lat, t[, opath])`, `t` string
    * in mixed formats or already a timestamp.
    * Optional `busLine`: `(existLine_id, direction, position, x=lat,
    * y=lng)` terminus table (broadcast — it is a small dim).
    */
  def prepare(gps: DataFrame, busLine: Option[DataFrame] = None): DataFrame = {
    val typed = (if (gps.schema("t").dataType.typeName == "string")
      gps.withColumn("t", TimeOps.parseMulti(col("t")))
    else gps)
      .withColumn("lng", col("lng").cast("double"))
      .withColumn("lat", col("lat").cast("double"))

    // inter-ping gap in seconds (reference: |t−prev|/1000 via UDF,
    // Parallel:52–54 — plain column arithmetic here)
    val withGap = typed.withColumn("time_diff",
      coalesce(
        abs(TimeOps.secondsBetween(col("t"), lag(col("t"), 1).over(byVehicle))),
        lit(0.0)))

    // dedup AFTER gap computation (reference order, Parallel:81) —
    // deterministic variant: keep the earliest row per key
    val dedupW = Window.partitionBy("id", "linenumber", "lng", "lat").orderBy("t")
    val deduped = withGap
      .withColumn("_rn", row_number().over(dedupW))
      .filter(col("_rn") === 1).drop("_rn")

    // first ping of the day initializes direction=position=1 (Parallel:89–97)
    val withInit = deduped
      .withColumn("_first", row_number().over(byVehicle) === 1)
      .withColumn("direction", when(col("_first"), 1).otherwise(0))
      .withColumn("position", when(col("_first"), 1).otherwise(0))
      .drop("_first")

    // terminus proximity marks (Parallel:98–115); bus_line is a dim →
    // broadcast joins, fact side never shuffles here
    val marked = busLine match {
      case None => withInit
      case Some(bl0) =>
        val bl = bl0
          .withColumn("direction", coalesce(col("direction").cast("int"), lit(2)))
          .withColumn("position", col("position").cast("int"))
          .withColumn("x", col("x").cast("double"))
          .withColumn("y", col("y").cast("double"))
        val term1 = bl.filter(col("direction") === 1 && col("position") === 1)
        val term2 = bl.filter(col("direction") === 2 && col("position") === 1)
        // reference restricts dir-1 termini to lines that also have a
        // dir-2 terminus (Parallel:96–99)
        val matched1 = term1.join(
          term2.select(col("existLine_id")).distinct(), Seq("existLine_id"), "inner")
        def hit(u: DataFrame, term: DataFrame, mark: Int): DataFrame = {
          val b = term.select(
            col("existLine_id"),
            col("x").as("_tlat"), col("y").as("_tlng"))
          u.join(broadcast(b), u("linenumber") === b("existLine_id"), "left_outer")
            .withColumn("_d",
              Geo.haversineMeters(col("lat"), col("lng"), col("_tlat"), col("_tlng")))
            .withColumn("direction",
              when(col("_d") < TerminusRadiusM, mark).otherwise(col("direction")))
            .withColumn("position",
              when(col("_d") < TerminusRadiusM, mark).otherwise(col("position")))
            .drop("existLine_id", "_tlat", "_tlng", "_d")
        }
        hit(hit(withInit, matched1, 1), term2, 2)
    }

    // forward-fill the direction a vehicle is travelling (Parallel:117–122)
    val filled = marked.withColumn("filled_direction",
      last(when(col("direction") =!= 0, col("direction")), ignoreNulls = true)
        .over(byVehicle.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    // per-vehicle signal-gap threshold (Parallel:124–126) as a window
    // aggregate on the id partitioning the windows above already have:
    // one scan, one exchange. Not a groupBy joined back onto `filled`:
    // the join's inferred isnotnull(id) filter makes the two sides'
    // exchanges differ, so the fleet is scanned and shuffled twice
    // (NOTES.md). A null id gets no threshold, as under such a join.
    filled.withColumn("threshold", when(col("id").isNotNull,
      expr(s"percentile_approx(time_diff, $GapPercentile)")
        .over(Window.partitionBy("id"))))
  }

  /** Stage 1b: segment each vehicle's day into numbered trajectory
    * patterns separated by signal-loss episodes (Standalone:66–175; see
    * class doc for the restoration rationale). Expects [[prepare]]'s
    * output. Adds `patternID` (long, ≥1) and `gap_flag` (1 on the ping
    * that closes a signal-loss episode). */
  def extractPatterns(prepared: DataFrame, cfg: Config = Config()): DataFrame = {
    // raw signal-gap flag (Standalone:74)
    val flagged = prepared.withColumn("_gap",
      when(col("time_diff") >= col("threshold"), 1).otherwise(0))

    // distance guard (Standalone:82–102): a "gap" whose endpoints moved
    // less than guard×(threshold−1) meters is a stopped bus with its
    // receiver on, not a blind zone → not a real signal loss
    val guarded = flagged
      .withColumn("_dist",
        when(col("_gap") === 1,
          Geo.haversineMeters(
            lag(col("lat"), 1).over(byVehicle), lag(col("lng"), 1).over(byVehicle),
            col("lat"), col("lng"))))
      .withColumn("gap_flag",
        when(col("_dist").isNotNull &&
          col("_dist") < (col("threshold") - 1) * GuardSpeedMps, 0)
          .otherwise(col("_gap")))
      .drop("_gap", "_dist")

    // vehicle qualification (Standalone:104–121): keep vehicles seen at
    // both travel directions' termini or mid-route during a gap —
    // per-id EXISTS flags as window aggregates on the id partitioning, so
    // the gate adds no scan or exchange (a null id never qualifies, as in
    // the reference's id-keyed join). `cfg.qualify = false` skips the
    // gate for feeds without terminus geography (the reference's
    // Standalone variant substitutes a hardcoded vehicle allowlist here,
    // Standalone:11–16).
    val byId = Window.partitionBy("id")
    def seen(dir: Int, pos: Int): Column = Quantifiers.existsFlag(
      (col("direction") === dir && col("position") === pos) ||
        (col("direction") === dir && col("position") === 0 && col("gap_flag") === 1)
    ).over(byId)
    val qualified = if (!cfg.qualify) guarded else guarded
      .withColumn("_c1", seen(1, 1)).withColumn("_c2", seen(2, 2))
      .filter(col("id").isNotNull && col("_c1") === 1 && col("_c2") === 1)
      .drop("_c1", "_c2")

    // bug-compatible mode (Standalone:123–172 AS COMMITTED): the bound
    // machinery branches on a lag-state of 2 that the flag computation
    // (Standalone:74, lag ∈ {0,1}) can never produce, so pattern_id stays
    // 0, pattern_lower_bound stays null, and the null-bound row filter
    // (Standalone:156–161) drops every row. Preserved verbatim behind the
    // flag; the restored numbering below is the default.
    if (!cfg.restoredNumbering)
      return qualified
        .withColumn("patternID", lit(0L))
        .filter(lit(null).cast("boolean"))

    // pattern numbering: a new pattern starts at the first normal ping
    // after a completed signal-loss episode; gap pings close out the
    // pattern they interrupt (gaps-and-islands, one window pass)
    val restart = (col("gap_flag") === 0) &&
      (lag(col("gap_flag"), 1).over(byVehicle) === 1)
    qualified
      .withColumn("_restart", when(restart, 1L).otherwise(0L))
      .withColumn("patternID", sum(col("_restart")).over(byVehicle) + 1)
      .drop("_restart")
  }

  /** Full stage 1: prepare → extract, selecting the stage-2 interface
    * columns (`id, lng, lat, t, patternID, linenumber`). */
  def run(gps: DataFrame, busLine: Option[DataFrame] = None,
          cfg: Config = Config()): DataFrame =
    extractPatterns(prepare(gps, busLine), cfg)
      .select("id", "lng", "lat", "t", "patternID", "linenumber")
}
