package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{PrefixSum, Tables}
import graft.ext.Dedup

/** Warehouse-side analytics the reference's batch pipeline implies but
  * never spells out: upsert maintenance of a dimension table, SCD-type-2
  * history, funnel/cohort analytics over the event stream, one-pass data
  * profiling, incremental materialized-view maintenance, an iterative
  * graph measure (PageRank), and fixed-grid time-series resampling.
  * Conventions follow [[Rel]] (deterministic ORDER BY, BIGINT widening,
  * exact integer event time via [[graft.core.Tables.tsMicros]]).
  *
  * Everything here is engineered for hash-exact DuckDB parity: rank
  * arithmetic is fixed-point integer (no float accumulation order), LOCF
  * carries stored doubles rather than computing new ones, and ratio
  * thresholds are integer cross-multiplications.
  */
object Warehouse {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.eventsTsUs(s, dir)

  private val DayUs = 86400000000L

  // ===== upsert / history maintenance =====

  /** MERGE (SCD type 1) — the nightly-increment pattern: an updates feed
    * (changed rows + brand-new keys, derived deterministically from
    * `orders` so the oracle can rebuild the identical feed) is merged
    * into the base table; updates win on matched keys, inserts append,
    * untouched rows pass through tagged `B`.
    *
    * Scale shape: one hash shuffle of the base on the merge key for the
    * anti-join — and when the delta is small relative to the base (the
    * production case), AQE broadcasts the delta's key set so the base is
    * never shuffled at all. A 100 TB deployment buckets the base on the
    * key so repeated nightly merges reuse the layout. The `+10M` insert
    * key offset leaves headroom below sf10 (max o_orderkey ≈ 6·SF·10⁵). */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val updates = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 100.0).as("o_totalprice"),
        lit("U").as("src"))
      .unionAll(base.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_totalprice"), lit("N").as("src")))
    updates
      .unionByName(base
        .join(updates.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
        .withColumn("src", lit("B")))
      .orderBy(col("o_orderkey"))
  }

  /** CDC LOG COMPACTION + APPLY — the general form of [[mergeUpsert]]:
    * a change log carries multiple sequenced ops per key (U…U, U→D,
    * inserts) and the LAST op wins — compaction is one row_number window
    * over (key, seq desc) with a documented op tie-break, then deletes
    * anti-join, upserts override, inserts append. The log here is
    * derived deterministically from the base so the oracle rebuilds the
    * identical feed: seq 1 updates every 5th key (+10), seq 2 re-updates
    * every 10th (+20, superseding) and DELETES every 11th (a %55 key
    * sees U then D → net delete; a %110 key has two seq-2 ops → 'D' < 'U'
    * alphabetically, D wins, documented), inserts at key+20M. Scale:
    * compaction shuffles the LOG (not the base) once; the apply is the
    * merge shape. Like [[mergeUpsert]]'s +10M, the +20M insert offset is
    * a SYNTHETIC-FEED convention with headroom below sf10 (max
    * o_orderkey ≈ 6·SF·10⁵; beyond that, derive the offset from
    * max(key)+1) — a real CDC feed carries its own keys and needs no
    * offset at all. */
  def mergeCdc(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val log = base.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 10.0).as("price"),
        lit("U").as("op"), lit(1L).as("seq"))
      .unionAll(base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 20.0).as("price"),
          lit("U").as("op"), lit(2L).as("seq")))
      .unionAll(base.filter(col("o_orderkey") % 11 === 0)
        .select(col("o_orderkey"), lit(0.0).as("price"),
          lit("D").as("op"), lit(2L).as("seq")))
      .unionAll(base.filter(col("o_orderkey") % 97 === 0)
        .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
          col("o_totalprice").as("price"), lit("I").as("op"), lit(1L).as("seq")))
    val latest = log.withColumn("rn", row_number().over(
        Window.partitionBy(col("o_orderkey"))
          .orderBy(col("seq").desc, col("op").asc)))
      .filter(col("rn") === 1)
    val dels = latest.filter(col("op") === "D").select(col("o_orderkey"))
    val lives = latest.filter(col("op") =!= "D")
      .select(col("o_orderkey"), col("price").as("o_totalprice"), col("op").as("src"))
    base
      .join(latest.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
      .withColumn("src", lit("B"))
      .unionByName(lives)
      .join(dels, Seq("o_orderkey"), "left_anti")
      .orderBy(col("o_orderkey"))
  }

  /** SNAPSHOT DIFF — the table-to-table change report data ops run
    * before promoting a new corpus generation: full-outer join two
    * snapshots on the key and classify every difference as Added /
    * Removed / Changed (with old and new values side by side; unchanged
    * rows — the overwhelming majority — are filtered before the sink).
    * The "next" snapshot is a deterministic mutation of the base so the
    * oracle reconstructs both sides. One shuffle on the key; at 100 TB
    * both snapshots bucket on the key and the diff is co-located. The
    * +30M addition offset shares [[mergeUpsert]]'s synthetic-feed
    * headroom caveat (valid below sf10; derive from max(key)+1 past
    * that — real snapshots carry their own keys). */
  def diffSnapshots(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val next = base.filter(col("o_orderkey") % 17 =!= 0) // removals
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 50.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderstatus"))
      .unionByName(base.filter(col("o_orderkey") % 89 === 0) // additions
        .select((col("o_orderkey") + 30000000L).as("o_orderkey"),
          col("o_totalprice"), col("o_orderstatus")))
    val a = base.select(col("o_orderkey"), col("o_totalprice").as("old_price"),
      col("o_orderstatus").as("old_status"))
    val b = next.select(col("o_orderkey"), col("o_totalprice").as("new_price"),
      col("o_orderstatus").as("new_status"))
    a.join(b, Seq("o_orderkey"), "full")
      .withColumn("change",
        when(col("old_price").isNull, lit("A"))
          .when(col("new_price").isNull, lit("R"))
          .when(col("old_price") =!= col("new_price") ||
            col("old_status") =!= col("new_status"), lit("C")))
      .filter(col("change").isNotNull)
      .select(col("o_orderkey"), col("change"),
        col("old_price"), col("new_price"))
      .orderBy(col("o_orderkey"))
  }

  /** Pareto / ABC analysis — parts ranked by revenue with cumulative
    * share classes (A ≤ 80 %, B ≤ 95 %, C above) — ENTIRELY in integer
    * cents: per-row `round(price·100)` is the same nearest-integer in
    * both engines, cent sums are exact longs, and the cumulative share
    * is `cum·10⁶ div total` ppm — so the running sum is order-exact
    * where a double cumsum would be at the mercy of each engine's
    * window-sum association.
    *
    * The global running sum is [[graft.core.PrefixSum]] over (rev_cents
    * desc, l_partkey), a strict total order. The tagged relation is the
    * dimension-sized per-part rollup, never the corpus, so it is pinned
    * with `localCheckpoint` rather than staged. */
  def winParetoAbc(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .select(col("l_partkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .groupBy(col("l_partkey")).agg(sum(col("cents")).as("rev_cents"))
    val local = PrefixSum
      .rangeTag(rev, col("rev_cents").desc, col("l_partkey").asc)
      .localCheckpoint()
    val (withOffset, total) = PrefixSum.offsets(local, col("rev_cents"))
    val wLocal = Window.partitionBy(col("pid"))
      .orderBy(col("rev_cents").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withOffset(local
      .withColumn("local_cum", sum(col("rev_cents")).over(wLocal)))
      .withColumn("cum_cents", col("poff") + col("local_cum"))
      // parts-per-100k, not ppm: cum·10⁵ stays under 2⁶³ up to ~$920 B
      // of cumulative cents (ppm would overflow at sf1's ~$180 B)
      .withColumn("share_p100k", expr(s"(cum_cents * 100000) div ${total}L"))
      .withColumn("abc",
        when(col("share_p100k") <= 80000L, "A")
          .when(col("share_p100k") <= 95000L, "B").otherwise("C"))
      .select(col("l_partkey"), col("rev_cents"), col("cum_cents"),
        col("share_p100k"), col("abc"))
      .orderBy(col("l_partkey"))
  }

  /** SCD type 2 — validity-interval history of each user's `event_type`
    * attribute: consecutive runs collapse to one row with
    * `[valid_from, valid_to)` microsecond bounds, a per-user version
    * number, and an `is_current` flag on the open interval. Two window
    * passes over the same `(user_id × (ts, event_id))` sort — Catalyst
    * plans ONE exchange+sort and runs both window frames over it.
    * Deterministic under ts ties via the event_id tie-break. */
  /** Run-detection core of the SCD2 family, parameterized by the change
    * feed so [[scd2Backfill]] can rebuild over an amended source. */
  private def scd2Of(src: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val changes = src
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val wc = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    changes.select(
      col("user_id"), col("event_type"),
      col("ts_us").as("valid_from_us"),
      lead(col("ts_us"), 1).over(wc).as("valid_to_us"),
      row_number().over(wc).cast("long").as("version"))
  }

  def scd2History(s: SparkSession, dir: String): DataFrame =
    scd2Of(events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id")))
      .withColumn("is_current", col("valid_to_us").isNull)
      .orderBy(col("user_id"), col("version"))

  /** SCD2 BACKFILL — the late-arriving-data rewrite every warehouse
    * eventually faces: a correction lands mid-history (here: one
    * synthetic 'backfill' state at the integer midpoint of each
    * user-%13's event-time span), the dimension is REBUILT from the
    * amended feed, and the output is the DELTA against the original
    * history — added intervals ('A': the backfill itself plus the
    * original mid-run row it promotes to a change point) and modified
    * ones ('C': truncated valid_to / shifted version). Rebuild-then-
    * diff is the idempotent formulation (replayable at any lateness,
    * no in-place interval surgery to get wrong), and every original
    * change point provably survives — only additions and
    * modifications exist, which the full-outer join makes auditable.
    *
    * Scale: two runs of [[scd2Of]]'s one user-keyed window + a join on
    * (user, valid_from) — the late feed is |affected-users|-sized. */
  def scd2Backfill(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
    val late = ev.filter(col("user_id") % 13 === 0)
      .groupBy(col("user_id"))
      .agg(expr("(min(ts_us) + max(ts_us)) div 2").as("ts_us"))
      .select(col("user_id"), lit("backfill").as("event_type"),
        col("ts_us"), (col("user_id") + 1000000000L).as("event_id"))
    val h0 = scd2Of(ev)
    val h1 = scd2Of(ev.unionByName(late))
    h0.select(col("user_id"), col("valid_from_us"),
        col("event_type").as("t0"), col("valid_to_us").as("old_valid_to_us"),
        col("version").as("old_version"))
      .join(h1.select(col("user_id"), col("valid_from_us"),
        col("event_type").as("t1"), col("valid_to_us").as("new_valid_to_us"),
        col("version").as("new_version")),
        Seq("user_id", "valid_from_us"), "full_outer")
      .withColumn("change",
        when(col("t0").isNull, "A")
          .when(col("old_valid_to_us") <=> col("new_valid_to_us") &&
            col("old_version") === col("new_version"), lit(null))
          .otherwise("C"))
      .filter(col("change").isNotNull)
      .select(col("user_id"), col("valid_from_us"),
        coalesce(col("t1"), col("t0")).as("event_type"), col("change"),
        col("old_valid_to_us"), col("new_valid_to_us"),
        col("old_version"), col("new_version"))
      .orderBy(col("user_id"), col("valid_from_us"))
  }

  /** POINT-IN-TIME (AS-OF) read over [[scd2History]] — the temporal
    * query SCD2 exists to answer: each user's state AT time T, rolled
    * up per state with user counts, earliest entry time and version
    * mass (all integers). T is the integer midpoint of the event-time
    * span (two driver scalars, the A9 pattern; the oracle rebuilds the
    * same T from min/max subqueries). Interval semantics are
    * `[valid_from, valid_to)` with NULL = open. Scale: the history's
    * one exchange+sort plus a |states|-row rollup — the as-of filter is
    * scan-local over the history relation. */
  def scd2Asof(s: SparkSession, dir: String): DataFrame = {
    val r = events(s, dir).agg(min(col("ts_us")), max(col("ts_us"))).head()
    val tAt = (r.getLong(0) + r.getLong(1)) / 2
    scd2History(s, dir)
      .filter(col("valid_from_us") <= tAt &&
        (col("valid_to_us").isNull || col("valid_to_us") > tAt))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        min(col("valid_from_us")).as("earliest_from_us"),
        sum(col("version")).as("sum_version"))
      .orderBy(col("event_type"))
  }

  // ===== event analytics =====

  /** Ordered 3-stage funnel (view → click → purchase) per user: each
    * stage's timestamp must strictly follow the previous stage's. Stage
    * relations are |users|-sized, so each later stage joins its
    * predecessor back to the event scan with a BROADCAST hint — the big
    * side is scanned per stage but never shuffled; the only exchanges are
    * the |users|-sized stage aggregates. */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("event_type"), col("ts_us"))
    val users = ev.select(col("user_id")).distinct()
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1_us"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(broadcast(t1), Seq("user_id"))
      .filter(col("ts_us") > col("t1_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t2_us"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(broadcast(t2), Seq("user_id"))
      .filter(col("ts_us") > col("t2_us"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3_us"))
    users
      .join(t1, Seq("user_id"), "left")
      .join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .withColumn("depth",
        when(col("t3_us").isNotNull, 3L).when(col("t2_us").isNotNull, 2L)
          .when(col("t1_us").isNotNull, 1L).otherwise(0L))
      .orderBy(col("user_id"))
  }

  /** BOUNDED-DELAY FUNNEL — [[eventsFunnel]] with a 7-day conversion
    * window per step: a click only counts if within 7 days of the first
    * qualifying view, a purchase within 7 days of that click — the form
    * every product funnel actually uses (an unbounded funnel credits
    * conversions months later). Same broadcast-staged min-aggregates;
    * the bound is one extra integer µs predicate per stage, so the plan
    * is unchanged.
    *
    * Scale: identical to [[eventsFunnel]] — |users|-sized stage tables
    * broadcast back onto the filtered event stream; no new shuffles. */
  def eventsFunnelWindowed(s: SparkSession, dir: String): DataFrame = {
    val winUs = 7L * DayUs
    val ev = events(s, dir).select(col("user_id"), col("event_type"), col("ts_us"))
    val users = ev.select(col("user_id")).distinct()
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1_us"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(broadcast(t1), Seq("user_id"))
      .filter(col("ts_us") > col("t1_us") &&
        col("ts_us") <= col("t1_us") + winUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t2_us"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(broadcast(t2), Seq("user_id"))
      .filter(col("ts_us") > col("t2_us") &&
        col("ts_us") <= col("t2_us") + winUs)
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3_us"))
    users
      .join(t1, Seq("user_id"), "left")
      .join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .withColumn("depth",
        when(col("t3_us").isNotNull, 3L).when(col("t2_us").isNotNull, 2L)
          .when(col("t1_us").isNotNull, 1L).otherwise(0L))
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("depth"))
  }

  /** THE day axis: distinct `(user_id, day)` with day = exact integer
    * `µs div 86400e6` — the single definition [[eventsRetention]] and
    * [[winStreak]] share, so "what is a day" can never diverge between
    * the retention matrix and the streak report. */
  private def userDays(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
      .distinct()

  /** ROLLING 7-DAY DISTINCT ACTIVES (WAU) per day, beside the DAU — the
    * sliding-window COUNT DISTINCT Spark's window frames cannot express
    * directly (no `count(DISTINCT …) OVER`). Standard contribute-ahead
    * rewrite: each distinct `(user, day)` row contributes the user to
    * the 7 report days `[day, day+6]` (explode of a 7-element sequence,
    * scan-local), re-distinct, count per report day — `u` active on any
    * day in `[d−6, d]` contributes to exactly `d`. Report restricted to
    * days with ≥1 active (inner join with DAU). All integers.
    *
    * Scale: the explode is a bounded 7× of the already-|users×days|
    * distinct relation, then ONE distinct shuffle — never a per-day
    * self-join of the event stream, and no O(window) state per key. */
  def winRollingWau(s: SparkSession, dir: String): DataFrame = {
    val ud = userDays(s, dir)
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("rday"))
      .distinct()
      .groupBy(col("rday").as("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .orderBy(col("day"))
  }

  /** DAU ANOMALY FLAGS — days whose active-user count deviates ≥ 50 %
    * from the trailing-7-day mean: the ingestion-monitoring alarm that
    * catches a dead collector or a bot flood before it poisons a
    * training snapshot. The trailing sum is [[winRollingWau]]'s
    * contribute-ahead rewrite pointed BACKWARD — each (day, dau) row
    * contributes to report days `[day+1, day+7]`, so day d accumulates
    * exactly its 7 predecessors — and the deviation test is the integer
    * cross-multiplication `100·|7·dau − t7_sum| ≥ 50·t7_sum` (mean never
    * materializes as a float). Days without full 7-day history are
    * excluded (`n_hist = 7`), not silently under-compared.
    *
    * Scale: the DAU relation is |days|-sized after the one distinct
    * shuffle; the explode is a bounded 7×; no window over the corpus. */
  def eventsAnomalyDays(s: SparkSession, dir: String): DataFrame = {
    val raw = userDays(s, dir)
      .groupBy(col("day")).agg(count(lit(1)).as("dau"))
    // DENSIFY the day axis: a day with no events at all IS the dead
    // collector this audit exists to flag — without the spine that day
    // has no row and silently vanishes (and suppresses the next week's
    // n_hist) instead of alarming. The spine is |days|-sized (one
    // aggregated min/max row exploded), so nothing corpus-sized moves.
    val spine = raw.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val dau = spine.join(raw, Seq("day"), "left")
      .withColumn("dau", coalesce(col("dau"), lit(0L)))
    val trail = dau
      .select(col("dau").as("d0"),
        explode(sequence(col("day") + 1, col("day") + 7)).as("rday"))
      .groupBy(col("rday").as("day"))
      .agg(sum(col("d0")).as("t7_sum"), count(lit(1)).as("n_hist"))
    dau.join(trail, Seq("day"))
      .filter(col("n_hist") === 7)
      .withColumn("anomaly",
        lit(100) * abs(lit(7) * col("dau") - col("t7_sum")) >=
          lit(50) * col("t7_sum"))
      .select(col("day"), col("dau"), col("t7_sum"), col("anomaly"))
      .orderBy(col("day"))
  }

  /** STICKINESS — DAU / rolling-28-day-MAU per day, the
    * engagement-density ratio (ppm integer division, no float):
    * [[winRollingWau]]'s contribute-ahead rewrite at window 28, report
    * restricted to days with a full 28-day contribution history so the
    * early ramp can't masquerade as high stickiness.
    *
    * Scale: the explode is a bounded 28× of the |users×days| distinct
    * relation, one re-distinct shuffle — no per-day self-join, no
    * O(window) state. */
  def winMauStickiness(s: SparkSession, dir: String): DataFrame = {
    val ud = userDays(s, dir)
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val fdRow = ud.agg(min(col("day"))).head()
    val firstDay = if (fdRow.isNullAt(0)) 0L else fdRow.getLong(0)
    val mau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 27)).as("rday"))
      .distinct()
      .groupBy(col("rday").as("day")).agg(count(lit(1)).as("mau"))
    dau.join(mau, Seq("day"))
      .filter(col("day") >= firstDay + 27)
      .withColumn("stickiness_ppm", expr("(dau * 1000000) div mau"))
      .orderBy(col("day"))
  }

  /** Cohort retention — users grouped by first active day, counted per
    * day-offset thereafter. The distinct `(user, day)` relation shuffles
    * once; the |users|-sized cohort table broadcasts back onto it, so the
    * retention matrix costs one wide shuffle + one broadcast join at any
    * scale. */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    val ud = userDays(s, dir)
    val cohort = ud.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ud.join(broadcast(cohort), Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      // (user, day) is distinct by construction → count(*) counts users
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** COHORT LTV CURVES — cumulative purchase revenue (floor-cents, exact
    * integer fold) per signup-cohort day and day-offset since cohort
    * entry: the lifetime-value curve growth teams read next to
    * [[eventsRetention]]'s activity matrix, sharing its cohort
    * definition (first active day) so the two can never disagree about
    * who belongs to a cohort. The running sum is a per-cohort window
    * over day offsets — |days|-bounded partitions, never corpus-sized.
    *
    * Scale: one purchase-stream shuffle keyed by user, the |users|-sized
    * cohort table broadcast back, a |cohorts × offsets| rollup, and the
    * cumsum window over that tiny relation. */
  def eventsCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val cohort = ev
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val rev = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"),
        floor(col("value") * 100).cast("long").as("cents"))
      .join(broadcast(cohort), Seq("user_id"))
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(sum(col("cents")).as("cents"),
        countDistinct(col("user_id")).as("n_buyers"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .select(col("cohort_day"), col("day_offset"), col("n_buyers"),
        col("cents"), col("cum_cents"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** GROWTH ACCOUNTING — the standard DAU decomposition: per day, how
    * many active users are NEW (first-ever day), RETAINED (also active
    * yesterday), or RESURRECTED (returning after a gap), plus how many
    * of yesterday's actives CHURNED (not active today). The four series
    * reconcile by construction: `dau(d) = new + retained + resurrected`
    * and `churned(d) = dau(d−1) − retained(d)` — the identity every
    * growth dashboard asserts and this query emits pre-checked.
    *
    * Scale: one distinct (user, day) shuffle; the lag/lead windows
    * partition BY USER (bounded per-user day lists, never a corpus
    * window); the day rollup is |days|-sized. */
  def eventsLifecycle(s: SparkSession, dir: String): DataFrame = {
    val ud = userDays(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val flagged = ud
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("next", lead(col("day"), 1).over(w))
    val states = flagged.groupBy(col("day")).agg(
      sum(when(col("prev").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("prev") === col("day") - 1, 1L).otherwise(0L))
        .as("n_retained"),
      sum(when(col("prev").isNotNull && col("prev") < col("day") - 1, 1L)
        .otherwise(0L)).as("n_resurrected"))
    val churn = flagged
      .filter(col("next").isNull || col("next") > col("day") + 1)
      .groupBy((col("day") + 1).as("day"))
      .agg(count(lit(1)).as("n_churned"))
    // FULL outer: a day with zero actives but nonzero churn (everyone
    // left yesterday — the total-outage day) must still get a row, or
    // summing n_churned undercounts exactly on the worst days
    states.join(churn, Seq("day"), "full_outer")
      .select(col("day"),
        (coalesce(col("n_new"), lit(0L)) + coalesce(col("n_retained"), lit(0L))
          + coalesce(col("n_resurrected"), lit(0L))).as("dau"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("day"))
  }

  /** TIME-TO-CONVERT percentiles — exact p50/p90 of the first-view →
    * first-subsequent-purchase latency (µs), the funnel-health number
    * product teams watch. Selection-based and distributed: the latencies
    * form ONE global group, so the rank comes from [[groupedRank]] with
    * a constant group key — range-partitioned two-phase selection, never
    * a single-task global sort ([[aggPercentileDisc]]'s 100 TB
    * argument applied to the ungrouped case). The answer is an actual
    * data value (⌈p·n⌉ selection, integer cross-mult), zero tolerance.
    *
    * Scale: the per-user firsts are [[eventsFunnel]]'s broadcast-staged
    * aggregates; latencies are |converting users|-sized; the selection
    * shuffles that relation once. */
  def eventsTimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"))
    val v1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("v_us"))
    val p1 = ev.filter(col("event_type") === "purchase")
      .join(broadcast(v1), Seq("user_id"))
      .filter(col("ts_us") > col("v_us"))
      .groupBy(col("user_id"), col("v_us"))
      .agg(min(col("ts_us")).as("p_us"))
    val lat = p1.select(col("user_id"),
      (col("p_us") - col("v_us")).as("latency_us"), lit("all").as("g"))
    val ranked = groupedRank("ttc", s, dir, lat, Seq("g"),
      Seq(col("latency_us").asc, col("user_id").asc))
    // GLOBAL aggregate (no groupBy): a conversion-free slice must still
    // emit its one (0, null, null) row, exactly like the oracle's grand
    // aggregate — groupBy on an empty relation would emit zero rows and
    // diverge
    ranked
      .agg(
        count(lit(1)).as("n_users"),
        min(when(col("rn") * 2 >= col("n"), col("latency_us")))
          .as("p50_latency_us"),
        min(when(col("rn") * 10 >= col("n") * 9, col("latency_us")))
          .as("p90_latency_us"))
  }

  /** DISTRIBUTED per-group rank — `row_number()` and group size over
    * (groupCols, orderCols) WITHOUT `Window.partitionBy(group)`'s
    * one-task-per-group sort funnel: with 5 event types, the naive
    * window hands each task 20% of the corpus at any scale. Instead the
    * grouped [[graft.core.PrefixSum]] over (group ++ order): a huge group
    * SPANS many range partitions, each ranks its slice per (pid, group),
    * and the per-group offsets of earlier pids complete the rank.
    * Adds `rn` (1-based rank within group) and `n` (group size). */
  private[queries] def groupedRank(name: String, s: SparkSession, dir: String,
      df: DataFrame, groupCols: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val g = groupCols.map(col)
    val local = Ext.stage(name, s, dir)(
      PrefixSum.rangeTag(df, (g.map(_.asc) ++ orderCols): _*))
    val withOffset = PrefixSum.groupedOffsets(local, groupCols, lit(1L))
    val wLocal = Window.partitionBy((col("pid") +: g): _*).orderBy(orderCols: _*)
    withOffset(local.withColumn("lr", row_number().over(wLocal).cast("long")))
      .withColumn("rn", col("goff") + col("lr"))
      .withColumnRenamed("gtotal", "n")
      .drop("pid", "lr", "goff")
  }

  /** Exact DISCRETE percentiles (p50/p90 per event type) — the
    * no-interpolation twin of A3's continuous percentile: the value AT
    * position ⌈p·n⌉ of the sorted group, an actual data value selected
    * by integer arithmetic, so the oracle is tolerance-free where
    * interpolated percentiles need rounding. Tie rows (equal value) are
    * disambiguated by event_id so the row numbering is total.
    *
    * 100 TB path: the ranking is [[groupedRank]]'s two-phase
    * distributed selection — no per-group single-task sort even with 5
    * event types holding 20% of the corpus each. When an approximate
    * answer suffices, pair with the sketch path ([[Rel.aggApprox]],
    * `approx_percentile`) instead and skip the rank entirely. */
  def aggPercentileDisc(s: SparkSession, dir: String): DataFrame = {
    val ranked = groupedRank("pdisc", s, dir,
      events(s, dir).select(col("event_type"), col("value"), col("event_id")),
      Seq("event_type"), Seq(col("value").asc, col("event_id").asc))
    // value at position ⌈p·n⌉: rn ≤ ⌈n/2⌉ ⟺ 2·rn ≤ n+1, and
    // rn ≤ ⌈9n/10⌉ ⟺ 10·rn ≤ 9n+9 — pure integer predicates
    ranked
      .groupBy(col("event_type"))
      .agg(
        max(when(col("rn") * 2 <= col("n") + 1, col("value"))).as("p50_disc"),
        max(when(col("rn") * 10 <= col("n") * 9 + 9, col("value"))).as("p90_disc"),
        max(col("n")).as("n"))
      .orderBy(col("event_type"))
  }

  /** HOURLY OHLC CANDLES per event type — the tumbling first/last/
    * min/max selection rollup every metering/market pipeline emits.
    * Open/close are rank selections (rn = 1 / rn = n over the in-hour
    * order, event_id-disambiguated), high/low are min/max — every
    * output value is an ACTUAL data value, so the gate is
    * tolerance-free; volume is exact floor-cents.
    *
    * Scale: one (type, hour) shuffle shared by the rank window and the
    * rollup (same keys, same order — one exchange). */
  def tsOhlc(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(col("event_type"),
        expr("ts_us div 3600000000").as("hour"),
        col("ts_us"), col("value"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"), col("hour"))
          .orderBy(col("ts_us"), col("event_id"))))
      .withColumn("nn", count(lit(1)).over(
        Window.partitionBy(col("event_type"), col("hour"))))
      .groupBy(col("event_type"), col("hour"))
      .agg(max(when(col("rn") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn") === col("nn"), col("value"))).as("close"),
        count(lit(1)).as("n"),
        sum(col("cents")).as("volume_cents"))
      .orderBy(col("event_type"), col("hour"))

  /** LAG-1 AUTOCORRELATION per event type — the temporal-dependence
    * probe a time-series pipeline reads before choosing features:
    * consecutive value pairs (per type, event-time order) feed the
    * exact-moments-then-combine pattern of [[profileCorrelation]] —
    * the six sufficient statistics fold as EXACT integers over
    * floor-cents, and the correlation is ONE fixed double expression
    * over their casts. The moments ship alongside for exact reuse.
    *
    * Scale: one type-keyed window shuffle, then a |types| rollup. */
  def tsAutocorr(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    events(s, dir)
      .select(col("event_type"), col("ts_us"), col("event_id"),
        floor(col("value") * 100).cast("long").as("y"))
      .withColumn("x", lag(col("y"), 1).over(w))
      .filter(col("x").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_x2"),
        sum(col("y") * col("y")).as("sum_y2"))
      .withColumn("autocorr_lag1",
        (col("n").cast("double") * col("sum_xy") -
          col("sum_x").cast("double") * col("sum_y")) /
          sqrt((col("n").cast("double") * col("sum_x2") -
            col("sum_x").cast("double") * col("sum_x")) *
            (col("n").cast("double") * col("sum_y2") -
              col("sum_y").cast("double") * col("sum_y"))))
      .orderBy(col("event_type"))
  }

  /** ROBUST ANOMALY FLAGS (rolling median / MAD) — the outlier rule a
    * metrics pipeline prefers over [[eventsAnomalyDays]]'s mean band
    * when the series itself contains spikes (the median ignores an
    * outlier in its own history; a trailing mean chases it): per event
    * type, each day's event count is tested against the median and MAD
    * of its trailing 7-day window, flagged when |x − med| > 3·MAD.
    * Hash-exact by 2-SCALING every statistic: the window is a fixed
    * n = 7 (odd), so med2 = 2·(4th order statistic) and mad2 = 2·MAD
    * are exact BIGINTs and the flag is the integer comparison
    * dev2 > 3·mad2. Runs over OBSERVED days ([[eventsAnomalyDays]]
    * owns the dead-collector/missing-day case with its densified
    * spine).
    *
    * Scale: the daily rollup is the only corpus-sized shuffle (map-side
    * combined); the rolling stats run on the |types|·|days| relation. */
  def tsMadAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, 0)
    daily
      .withColumn("arr", sort_array(collect_list(col("cnt")).over(w)))
      .filter(size(col("arr")) === 7)
      .withColumn("med2", element_at(col("arr"), 4) * 2)
      .withColumn("mad2", element_at(
        sort_array(transform(col("arr"), v => abs(v * 2 - col("med2")))), 4))
      .withColumn("dev2", abs(col("cnt") * 2 - col("med2")))
      .withColumn("anomaly", col("dev2") > col("mad2") * 3)
      .select(col("event_type"), col("day"), col("cnt"), col("med2"),
        col("mad2"), col("dev2"), col("anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** ROLLING TREND SLOPE — 24-hour ordinary-least-squares slope of the
    * hourly revenue series per event type, the trend feature a
    * forecasting pipeline derives before alerting on direction change.
    * Exact by the moments pattern: x is the hour index SHIFTED to the
    * type's first hour (slope is shift-invariant; the shift keeps
    * n·Σxy within BIGINT at any corpus age), y is floor-cents, all five
    * window sums fold as exact integers, and the slope is ONE double
    * division of the two integer cross-moments.
    *
    * Scale: one corpus-sized hourly rollup (map-side combined), then
    * windows over the |types|·|hours| relation. */
  def winRollingRegression(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 3600000000").as("h"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("y"))
    val byType = Window.partitionBy(col("event_type"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-23, 0)
    hourly
      .withColumn("x", col("h") - min(col("h")).over(byType))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sx2", sum(col("x") * col("x")).over(w))
      .filter(col("n") === 24)
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sx2") - col("sx") * col("sx"))
      .withColumn("slope_cents_per_hour",
        col("num").cast("double") / col("den").cast("double"))
      .select(col("event_type"), col("h"), col("y"), col("num"), col("den"),
        col("slope_cents_per_hour"))
      .orderBy(col("event_type"), col("h"))
  }

  /** CUSUM CHANGE DETECTION — the one-sided cumulative-sum control
    * chart over each type's daily revenue: S_i = max(0, S_{i−1} + (x_i
    * − med)), alarm when S crosses 6·MAD·2 (2-scaled: s2 > 6·mad4).
    * The recursion is NOT a window function, but the classic prefix
    * identity S_i = P_i − min(0, min_{j≤i} P_j) (P = prefix sums of
    * the deviations) turns it into two stock windows — exact BIGINTs
    * throughout because deviations are 2-scaled (d2 = 2x − med2, med2
    * = lower+upper middle of ALL the type's days, n odd or even) and
    * the threshold is 4-scaled (mad4 = 2-scaled median of the d2
    * magnitudes).
    *
    * Scale: daily rollup (corpus-sized, map-side combined), one
    * |types|-row stats broadcast back, windows on |types|·|days|. */
  def winCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
    val stats = daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("cents"))).as("arr"),
        count(lit(1)).as("n"))
      .withColumn("lo", expr("CAST((n + 1) div 2 AS INT)"))
      .withColumn("hi", expr("CAST(n div 2 + 1 AS INT)"))
      .withColumn("med2",
        element_at(col("arr"), col("lo")) + element_at(col("arr"), col("hi")))
      .withColumn("devs",
        sort_array(transform(col("arr"), v => abs(v * 2 - col("med2")))))
      .withColumn("mad4",
        element_at(col("devs"), col("lo")) + element_at(col("devs"), col("hi")))
      .select(col("event_type"), col("med2"), col("mad4"))
    val wp = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.join(broadcast(stats), Seq("event_type"))
      .withColumn("d2", col("cents") * 2 - col("med2"))
      .withColumn("p2", sum(col("d2")).over(wp))
      .withColumn("s2", col("p2") - least(lit(0L), min(col("p2")).over(wp)))
      .withColumn("alarm", col("s2") > col("mad4") * 6)
      .select(col("event_type"), col("day"), col("cents"), col("d2"),
        col("s2"), col("alarm"))
      .orderBy(col("event_type"), col("day"))
  }

  /** SEASONAL-NAIVE FORECAST BACKTEST — the baseline every forecasting
    * pipeline scores against before anything learned ships: predict
    * each day's event count by the 7TH PRIOR OBSERVED DAY (lag 7 over
    * the observed daily series — on a gap-free series that is the same
    * weekday last week; with gaps it is simply the 7th prior
    * observation, the convention both engines share here; densify on a
    * day spine first if calendar-weekday alignment is required), and
    * score per type against the naive lag-1 baseline. Every error is
    * an exact |BIGINT| difference, and the MASE verdict ("is seasonal
    * better than naive?") is the cross-multiplied integer comparison
    * Σ|e_seasonal|·n_naive < Σ|e_naive|·n_seasonal — no float until
    * the reporting ratio.
    *
    * Scale: daily rollup is the only corpus pass; lags and sums run on
    * the |types|·|days| relation. */
  def tsSeasonalNaive(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("lag1", lag(col("cnt"), 1).over(w))
      .withColumn("lag7", lag(col("cnt"), 7).over(w))
      .filter(col("lag7").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("cnt") - col("lag7"))).as("ae_seasonal"),
        sum(abs(col("cnt") - col("lag1"))).as("ae_naive"))
      .withColumn("seasonal_wins",
        col("ae_seasonal") < col("ae_naive")) // same n: plain compare
      .withColumn("mase",
        when(col("ae_naive") > 0,
          col("ae_seasonal").cast("double") / col("ae_naive").cast("double")))
      .orderBy(col("event_type"))
  }

  /** CLASSICAL SEASONAL DECOMPOSITION (trend / weekly seasonal /
    * remainder) of the daily cents series per event type — the
    * moving-average decomposition an anomaly or forecasting pipeline
    * runs before modeling, INTEGER-EXACT throughout by working in
    * 7×-units: the series densifies onto the full day spine (missing
    * days are true zeros — the [[tsSeasonalNaive]] observed-day caveat
    * done right), trend7 = the centered 7-day SUM (7× the moving
    * average, so no division), detrended7 = 7·cents − trend7, the
    * seasonal component is the per-weekday floor-mean of detrended7
    * (the +2⁴⁰ shift keeps the floor division's numerator positive, so
    * Spark `div` ≡ DuckDB `//` despite negative detrended values), and
    * remainder7 = detrended7 − seasonal7. Weekday is `day mod 7`
    * (epoch-day classes — an arbitrary but engine-identical labeling).
    *
    * Output is the (type × weekday) seasonal profile plus exact
    * remainder-magnitude stats — the decomposition quality report.
    * Scale: ONE corpus pass (the daily rollup); the spine, windows, and
    * rollups all run on the |types × days| histogram relation. */
  def tsDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val dense = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("cents"), lit(0L)).as("cents"))
    val w7 = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val det = dense
      .withColumn("trend7", sum(col("cents")).over(w7))
      .withColumn("nw", count(lit(1)).over(w7))
      .filter(col("nw") === 7) // full centered windows only
      .withColumn("det7", col("cents") * 7 - col("trend7"))
      .withColumn("weekday", expr("day % 7"))
    val seas = det.groupBy(col("event_type"), col("weekday"))
      .agg(count(lit(1)).as("n_days"), sum(col("det7")).as("s7"))
      .withColumn("seasonal7", expr(
        "(s7 + n_days * 1099511627776) div n_days - 1099511627776"))
    det.join(seas.select(col("event_type"), col("weekday"), col("seasonal7")),
        Seq("event_type", "weekday"))
      .withColumn("rem7", col("det7") - col("seasonal7"))
      .groupBy(col("event_type"), col("weekday"))
      .agg(count(lit(1)).as("n_days"), max(col("seasonal7")).as("seasonal7"),
        sum(abs(col("rem7"))).as("sum_abs_rem7"),
        max(abs(col("rem7"))).as("max_abs_rem7"))
      .orderBy(col("event_type"), col("weekday"))
  }

  /** LTTB DOWNSAMPLING (largest-triangle-three-buckets) — the standard
    * series downsampler every dashboard layer runs before plotting a
    * 100 TB metric: keep first and last, split the interior into m−2
    * equal buckets, and from each bucket keep the point forming the
    * largest triangle with the PREVIOUSLY kept point and the NEXT
    * bucket's mean. Made hash-exact by integer geometry: x is relative
    * µs, y floor-cents, and the bucket-mean triangle area is compared
    * n-SCALED — `|(ax−cx)·(Σny−n·cy) − (ay−cy)·(Σnx−n·cx)|` — so the
    * mean's division never happens and every selection is a BIGINT
    * comparison (ties → smallest seq). Every output value is an actual
    * data point.
    *
    * Scale: one corpus shuffle (group by series key), linear walk per
    * series — the [[graft.queries.Ext.geoSimplifyDp]] cogroup
    * discipline. The oracle replays the walk as a recursive CTE over
    * MATERIALIZED bucket sums with a quantified argmax (the DP
    * oracle's construction; depth = m−2 = 8). */
  def tsLttb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = 10 // points kept per series: first + 8 interior + last
    events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (uid, it) =>
        val arr = it.toArray.sortBy(r => (r._2, r._3)) // (ts, event_id)
        val n = arr.length
        val x0 = arr(0)._2
        def x(i: Int): Long = arr(i)._2 - x0
        def y(i: Int): Long = arr(i)._4
        if (n <= m) {
          arr.indices.iterator.map(i => (uid, (i + 1).toLong, arr(i)._3,
            x(i), y(i)))
        } else {
          val nb = m - 2
          // interior 0-based indices 1..n-2; bucket of index i =
          // ((i-1)*nb) div (n-2), 0-based — integer split, both engines
          def bucketOf(i: Int): Int = ((i - 1).toLong * nb / (n - 2)).toInt
          val lo = Array.fill(nb)(Int.MaxValue)
          val hi = Array.fill(nb)(Int.MinValue)
          var i = 1
          while (i < n - 1) {
            val b = bucketOf(i)
            if (i < lo(b)) lo(b) = i
            if (i > hi(b)) hi(b) = i
            i += 1
          }
          val kept = scala.collection.mutable.ArrayBuffer(0)
          var prev = 0
          var b = 0
          while (b < nb) {
            // next anchor: bucket b+1's sums, or the last point alone
            var (snx, sny, cnt) = (0L, 0L, 0L)
            if (b + 1 < nb) {
              var j = lo(b + 1)
              while (j <= hi(b + 1)) { snx += x(j); sny += y(j); cnt += 1; j += 1 }
            } else { snx = x(n - 1); sny = y(n - 1); cnt = 1 }
            val (ax, ay) = (x(prev), y(prev))
            var best = -1; var bestA = -1L
            var c = lo(b)
            while (c <= hi(b)) {
              val a2 = math.abs((ax - x(c)) * (sny - cnt * y(c)) -
                (ay - y(c)) * (snx - cnt * x(c)))
              if (a2 > bestA) { bestA = a2; best = c } // strict >: min-seq tie
              c += 1
            }
            kept += best
            prev = best
            b += 1
          }
          kept += n - 1
          kept.iterator.map(i => (uid, (i + 1).toLong, arr(i)._3, x(i), y(i)))
        }
      }
      .toDF("user_id", "seq", "event_id", "x_rel_us", "y_cents")
      .orderBy(col("user_id"), col("seq"))
  }

  /** SNAPSHOT DRIFT REPORT — the dataset-shift audit a training-data
    * pipeline runs between two crawls/ingest windows (PSI's integer
    * cousin): the value distribution of the EARLIER half of the days
    * trains decile cuts (exact ⌈k·n/10⌉ order statistics — actual data
    * values, selected by integer predicates), every event lands in a
    * trained bucket scan-locally, and the report compares old/new ppm
    * shares per bucket with a ±2 % drift flag. Everything is integer
    * selection and integer division — no ln (PSI's log stays out for
    * the same reason tf-idf's does: not bit-portable), zero tolerance.
    *
    * Scale: cut training is [[groupedRank]]'s two-phase distributed
    * selection over the old snapshot (no single-task sort); the 9-value
    * cut row broadcasts back; the rollup is 10 rows, whose share
    * window is a 10-row single partition by construction. */
  def profileDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_id"), col("value"),
      expr("ts_us div 86400000000").as("day"))
    val lim = ev.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val tagged = ev.crossJoin(broadcast(lim))
      .withColumn("is_old", col("day") < col("mid"))
    val ranked = groupedRank("drift_old", s, dir,
      tagged.filter(col("is_old"))
        .select(lit(1).as("g"), col("value"), col("event_id")),
      Seq("g"), Seq(col("value").asc, col("event_id").asc))
    val cutAggs = (1 to 9).map(k =>
      max(when(col("rn") * 10 <= col("n") * k + 9, col("value"))).as(s"c$k"))
    val cuts = ranked.groupBy(col("g"))
      .agg(cutAggs.head, cutAggs.tail: _*).drop("g")
    val bucketed = tagged.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        (1 to 9).map(k => when(col("value") > col(s"c$k"), 1L).otherwise(0L))
          .reduce(_ + _))
    val w10 = Window.partitionBy(lit(1))
    bucketed.groupBy(col("bucket"))
      .agg(sum(when(col("is_old"), 1L).otherwise(0L)).as("n_old"),
        sum(when(!col("is_old"), 1L).otherwise(0L)).as("n_new"))
      // the share window runs over the 10-row bucket relation only
      .withColumn("t_old", sum(col("n_old")).over(w10))
      .withColumn("t_new", sum(col("n_new")).over(w10))
      .withColumn("share_old_ppm", expr("(1000000 * n_old) div t_old"))
      .withColumn("share_new_ppm", expr("(1000000 * n_new) div t_new"))
      .withColumn("delta_ppm", col("share_new_ppm") - col("share_old_ppm"))
      .withColumn("drifted", abs(col("delta_ppm")) > 20000)
      .select(col("bucket"), col("n_old"), col("n_new"),
        col("share_old_ppm"), col("share_new_ppm"), col("delta_ppm"),
        col("drifted"))
      .orderBy(col("bucket"))
  }

  /** Per-group WINSORIZATION — every value clamped to its event type's
    * [p05, p95] DISCRETE percentile band (the outlier-taming transform
    * quality/score columns get before feeding a trainer; the robust
    * cousin of z-score clipping, and the row-level complement of
    * [[aggRobustOutliers]]'s report). Both bounds are ⌈p·n⌉ selections
    * — actual data values — and the clamp is a comparison on identical
    * doubles, so the whole transform is hash-exact with zero tolerance.
    *
    * Shares [[aggPercentileDisc]]'s STAGED rank relation verbatim (same
    * `stage` key "pdisc": whichever query runs first pays the landing,
    * the other reads the files — the "index is a table" reuse story at
    * query-family scale). The bounds table is |types|-sized and
    * broadcasts back onto the scan. */
  def aggWinsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("value"), col("event_id"))
    // p05: rn ≤ ⌈n/20⌉ ⟺ 20·rn ≤ n+19; p95: rn ≤ ⌈19n/20⌉ ⟺ 20·rn ≤ 19n+19
    val bounds = groupedRank("pdisc", s, dir, ev,
      Seq("event_type"), Seq(col("value").asc, col("event_id").asc))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("rn") * 20 <= col("n") + 19, col("value"))).as("p05"),
        max(when(col("rn") * 20 <= col("n") * 19 + 19, col("value"))).as("p95"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"),
        when(col("value") < col("p05"), col("p05"))
          .when(col("value") > col("p95"), col("p95"))
          .otherwise(col("value")).as("value_w"))
      .orderBy(col("event_id"))
  }

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands on the DAY axis (where [[Rel.winSessionize]] works
    * in µs gaps): `day − row_number()` is constant exactly within a
    * consecutive run, so streaks fall out of one groupBy; the report
    * rolls up each user's streak count, best length, and the EARLIEST
    * start among maximal streaks (total order, deterministic). All
    * integers — zero tolerance. One exchange serves window + both
    * rollups. */
  def winStreak(s: SparkSession, dir: String): DataFrame = {
    val ud = userDays(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val streaks = ud
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
    val wu = Window.partitionBy(col("user_id"))
    streaks
      .withColumn("max_len", max(col("len")).over(wu))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_streaks"),
        max(col("len")).as("best_len"),
        min(when(col("len") === col("max_len"), col("start_day")))
          .as("best_start_day"))
      .orderBy(col("user_id"))
  }

  /** ROBUST outlier report — median / MAD / |outliers| per event type,
    * the heavy-tail-safe alternative to z-scores (stddev is itself
    * blown up by the outliers it should flag). Both the median and the
    * MAD are DISCRETE selections (the [[aggPercentileDisc]] integer
    * position predicate), deviations are single IEEE subtractions, and
    * the 3×MAD outlier threshold is one multiply+compare on identical
    * doubles — so the whole report is hash-exact with zero tolerance,
    * where any interpolated/stddev formulation would need rounding.
    * Two selection passes (value rank, then deviation rank), each the
    * [[groupedRank]] two-phase distributed selection — no per-group
    * single-task sort funnel with 5 types at 20% of the corpus each;
    * the per-type medians broadcast back. At 100 TB, when the report
    * tolerates approximation, swap both selections for
    * `approx_percentile` sketches ([[Ext.aggApprox]]). */
  def aggRobustOutliers(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("value"), col("event_id"))
    def discMedian(name: String, df: DataFrame, v: String, out: String) =
      groupedRank(name, s, dir, df, Seq("event_type"),
        Seq(col(v).asc, col("event_id").asc))
        .groupBy(col("event_type"))
        .agg(max(when(col("rn") * 2 <= col("n") + 1, col(v))).as(out))
    // stage key "pdisc", NOT a private one: this first selection pass
    // ranks the IDENTICAL relation, keys, and order as aggPercentileDisc
    // / aggWinsorize's shared stage — reusing their key makes the median
    // pass a file read whenever either ran first in this JVM (one fewer
    // corpus range-shuffle; r9 verdict #3)
    val med = discMedian("pdisc", ev, "value", "median")
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("value") - col("median")))
    val mad = discMedian("ro_dev", dev, "dev", "mad")
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("median")).as("median"), max(col("mad")).as("mad"),
        sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** WITHIN-SESSION LAST-TOUCH ATTRIBUTION — for every purchase, the
    * most recent view/click STRICTLY BEFORE it inside the same 30-min
    * session (the marketing-attribution primitive [[eventsFunnel]]'s
    * global ordering can't express): sessionize (the shared
    * gaps-and-islands kit), then one `last(…, ignoreNulls)` window with
    * an UNBOUNDED-to-−1 frame per (user, session). Purchases opening a
    * session attribute to `none`. One exchange serves sessionization
    * and the touch window. */
  /** SHAPLEY channel attribution — the game-theoretic credit split
    * marketing analytics actually wants (last-touch, which
    * [[eventsAttribution]] implements, over-credits closers): each
    * non-purchase event type is a channel, a user's coalition is the
    * SET of channels they were exposed to, v(S) = conversion rate of
    * users exposed to exactly S (0 for unobserved coalitions,
    * documented), and φ_c = Σ_{S∌c} |S|!(n−1−|S|)!/n! · (v(S∪c) − v(S))
    * over the 2⁴ exposure subsets.
    *
    * Exactness: the subset table is integer counts; v is one
    * correctly-rounded division; the factorial weights are computed as
    * `fact(k)·fact(n−1−k)/n!` in BOTH engines (integer products, one
    * division); and the φ sum folds in PINNED subset-mask order
    * (sorted-array aggregate — the [[Ext.textLmBigram]] determinism
    * pattern), so the doubles are hash-exact with zero tolerance.
    *
    * Scale: ONE user-keyed rollup to (mask, conv) — everything after is
    * arithmetic over ≤16 rows crossed with 4 channels. */
  def eventsAttributionShapley(s: SparkSession, dir: String): DataFrame = {
    val chans = Seq("click", "error", "signup", "view") // bit 0..3
    // exposure = events BEFORE the user's first purchase (post-conversion
    // touches get no credit — and the window is what differentiates
    // coalitions in a dense feed where every user eventually sees
    // every channel)
    val firstConv = events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("conv_ts"),
        count(lit(1)).as("n_purch"))
    val users = events(s, dir)
      .join(firstConv, Seq("user_id"), "left")
      .filter(col("conv_ts").isNull || col("ts_us") < col("conv_ts"))
      .groupBy(col("user_id"))
      .agg(
        expr(s"bit_or(CASE event_type WHEN 'click' THEN 1 " +
          "WHEN 'error' THEN 2 WHEN 'signup' THEN 4 " +
          "WHEN 'view' THEN 8 ELSE 0 END)").as("mask"),
        max(when(col("n_purch") >= 14, 1).otherwise(0)).as("conv"))
    val subsets = users.groupBy(col("mask"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    import s.implicits._
    val allMasks = s.range(16).select(col("id").cast("int").as("mask"))
    val v = allMasks.join(subsets, Seq("mask"), "left")
      .select(col("mask"),
        coalesce(col("n_conv").cast("double") / col("n_users"), lit(0.0))
          .as("v"))
    val chanDf = chans.zipWithIndex.map { case (c, i) => (c, i) }
      .toDF("channel", "cbit")
    // terms: for each channel c and each S with bit c unset —
    // w(|S|) · (v(S ∪ c) − v(S)); folded in mask order
    val terms = chanDf.crossJoin(v.select(col("mask").as("smask"),
        col("v").as("v_s")))
      .filter(expr("(smask & shiftleft(1, cbit)) = 0"))
      .join(v.select(col("mask").as("umask"), col("v").as("v_su")),
        expr("umask = (smask | shiftleft(1, cbit))"))
      .withColumn("k", expr("bit_count(smask)"))
      .withColumn("w", expr(
        """CAST(CASE k WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 2
             WHEN 3 THEN 6 END *
           CASE k WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 1
             WHEN 3 THEN 1 END AS DOUBLE) / 24.0"""))
      .select(col("channel"),
        struct(col("smask"), (col("w") * (col("v_su") - col("v_s")))
          .as("term")).as("e"))
    terms.groupBy(col("channel"))
      .agg(aggregate(array_sort(collect_list(col("e"))), lit(0.0),
        (a, x) => a + x.getField("term")).as("phi"))
      .orderBy(col("channel"))
  }

  def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    val sess = graft.core.Sessionize.withSessionId(
      events(s, dir), Seq("user_id"), col("ts_us"),
      gapMicros = 1800L * 1000000L, tieBreak = Seq(col("event_id")))
    val prior = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isTouch = col("event_type").isin("view", "click")
    sess
      .withColumn("touch_type",
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(prior))
      .withColumn("touch_id",
        last(when(isTouch, col("event_id")), ignoreNulls = true).over(prior))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("session_id"),
        col("event_id").as("purchase_id"),
        coalesce(col("touch_type"), lit("none")).as("touch_type"),
        col("touch_id"))
      .orderBy(col("purchase_id"))
  }

  /** CLAMPED RUNNING BALANCE — a running sum that floors at zero
    * (inventory/credit semantics: you cannot ship stock you don't
    * have). Naively this needs a stateful scan — `b_t = max(0,
    * b_{t−1} + x_t)` looks non-relational — but it has the closed form
    * `b_t = cum_t − min(0, min_{s≤t} cum_s)`, so TWO stacked window
    * aggregates over ONE exchange+sort compute it exactly. Deltas are
    * integer cents (round(value·100) − 5000), so every balance is an
    * exact long. The identity is property-pinned in the spec against a
    * sequential fold. */
  def winClampedBalance(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("ts_us"), col("event_id"),
      (expr("CAST(round(value * 100) AS BIGINT)") - 5000L).as("delta"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("cum", sum(col("delta")).over(w))
      .withColumn("balance",
        col("cum") - least(lit(0L), min(col("cum")).over(w)))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("delta"),
        col("balance"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  /** MAX DRAWDOWN per account — the risk metric a billing/treasury
    * pipeline reads off the same running balance [[winClampedBalance]]
    * meters: the deepest peak-to-trough fall of the cumulative (cents)
    * series, with the peak that produced it. TWO stacked window
    * aggregates over ONE exchange+sort — running sum, then running max,
    * then a max of the difference — all exact longs, no float anywhere.
    *
    * Scale: one corpus shuffle on the account key shared by all three
    * window passes (same partitioning, same order), then a
    * |users|-sized rollup riding it. */
  def winDrawdown(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("ts_us"),
      col("event_id"),
      (expr("CAST(round(value * 100) AS BIGINT)") - 5000L).as("delta"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("cum", sum(col("delta")).over(w))
      .withColumn("peak", max(col("cum")).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("peak") - col("cum")).as("max_drawdown_cents"),
        max(col("peak")).as("peak_cents"),
        sum(col("delta")).as("final_cents"))
      .orderBy(col("user_id"))
  }

  /** A/B CONVERSION LIFT with an EXACT significance verdict — the
    * experiment readout: users split into variants by id parity,
    * exposure = any event that weekday, conversion = a purchase that
    * weekday; per weekday the report carries both funnels and a
    * two-proportion two-sigma test with the z² > 4 inequality CROSS-
    * MULTIPLIED into pure BIGINT arithmetic —
    * `(c_a·n_b − c_b·n_a)²·N > 4·n_a·n_b·C·(N−C)` — so the verdict
    * (and the ppm lift) hash-matches with zero tolerance; no sqrt or
    * division is ever evaluated. Cohort sizes up to ~10⁵ users fit the
    * cross term in BIGINT; past that the counts scale to kilounits
    * before squaring (same discipline as [[Ext.mixGiniConcentration]]).
    *
    * Scale: one (weekday, variant, user) dedup shuffle of a 3-column
    * projection, then a 14-row rollup pivoted to 7. */
  def eventsAbLift(s: SparkSession, dir: String): DataFrame = {
    val perUser = events(s, dir)
      .select(expr("(ts_us div 86400000000) % 7").as("dow"),
        (col("user_id") % 2).as("variant"), col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("dow"), col("variant"), col("user_id"))
      .agg(max(col("p")).as("converted"))
    val cohorts = perUser.groupBy(col("dow"), col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
    val a = cohorts.filter(col("variant") === 0)
      .select(col("dow"), col("n").as("n_a"), col("c").as("c_a"))
    val b = cohorts.filter(col("variant") === 1)
      .select(col("dow"), col("n").as("n_b"), col("c").as("c_b"))
    a.join(b, Seq("dow"))
      .withColumn("lift_ppm",
        expr("""CASE WHEN c_a * n_b = 0 THEN NULL
                ELSE (1000000 * c_b * n_a) div (c_a * n_b) - 1000000 END"""))
      .withColumn("significant",
        expr("""(c_a * n_b - c_b * n_a) * (c_a * n_b - c_b * n_a)
                 * (n_a + n_b)
               > 4 * n_a * n_b * (c_a + c_b)
                 * (n_a + n_b - c_a - c_b)"""))
      .select(col("dow"), col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        col("lift_ppm"), col("significant"))
      .orderBy(col("dow"))
  }

  /** QUANTILE NORMALIZATION — map every value onto the GLOBAL
    * distribution at its within-group relative rank (the batch-effect /
    * score-calibration transform: after it, every event type has the
    * same value distribution). Entirely SELECTION-based: within-group
    * rank r of n_g maps to global position ⌈r·N/n_g⌉ (one integer
    * expression), and the normalized value is the global order
    * statistic AT that position — an actual data value, so the
    * transform is hash-exact with no interpolation anywhere.
    *
    * Both rankings are [[graft.core.PrefixSum]] row numbers on ONE
    * staged range partitioning over (value, event_id) (r9): the global
    * rank per pid, and the within-group rank per (pid, event_type) — for
    * any event type, rows in an earlier range partition order strictly
    * before rows in a later one, so the grouped offsets need no second
    * range shuffle. No `Window.orderBy` without a partition key (the
    * corpus through one task), and no `Window.partitionBy(event_type)`
    * (with 5 event types at ~20% of the corpus each, one task per
    * group). */
  def mixQuantileNormalize(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("value"), col("event_id"))
    val local = Ext.stage("qn_global", s, dir)(
      PrefixSum.rangeTag(ev, col("value").asc, col("event_id").asc))
    val (withOffset, n) = PrefixSum.offsets(local, lit(1L))
    val withGroupOffset = PrefixSum.groupedOffsets(local, Seq("event_type"), lit(1L))
    val wA = Window.partitionBy(col("pid"))
      .orderBy(col("value").asc, col("event_id").asc)
    val wB = Window.partitionBy(col("pid"), col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    val globalOrder = withOffset(
        local.withColumn("lr", row_number().over(wA).cast("long")))
      .select((col("poff") + col("lr")).as("pos"),
        col("value").as("norm_value"))
    // within-group rank r = lrB + goff of group size gtotal maps to the
    // global position ⌈r·N/gtotal⌉
    val ranked = withGroupOffset(
        local.withColumn("lrB", row_number().over(wB).cast("long")))
      .withColumn("pos",
        expr(s"((lrB + goff) * ${n}L + gtotal - 1) div gtotal"))
    ranked.join(globalOrder, Seq("pos"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("norm_value"))
      .orderBy(col("event_id"))
  }

  /** Event-type TRANSITION MATRIX — consecutive-pair counts per user
    * stream (the first-order Markov statistics behavior models train
    * on), plus each source state's outgoing total so row probabilities
    * are reconstructible without floats. One lag window over the
    * per-user time order (ts, event_id tie-break), one count shuffle —
    * all integers, zero tolerance. */
  def eventsTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val pairs = events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    pairs
      .withColumn("from_total",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Seasonality rollup — events per (day-of-week, hour-of-day). DOW
    * comes from pure EPOCH ARITHMETIC, `(epoch_days + 4) % 7` with
    * 0 = Sunday (1970-01-01 was a Thursday) — NOT from each engine's
    * dayofweek() (Spark counts 1 = Sunday, DuckDB 0 = Sunday; the
    * calendar functions are a classic silent cross-engine divergence).
    * Hour is `µs div 3600e6 % 24` — UTC by construction. Scan-local
    * derivation, one 168-row aggregate. */
  def aggSeasonality(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(expr(s"(ts_us div $DayUs + 4) % 7").as("dow"),
        expr("(ts_us div 3600000000) % 24").as("hour"),
        col("value"))
      .groupBy(col("dow"), col("hour"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
      .orderBy(col("dow"), col("hour"))

  /** Per-group mode with a deterministic tie-break (highest count, then
    * lowest user_id) — the imputation/top-entity primitive. */
  def aggMode(s: SparkSession, dir: String): DataFrame = {
    val counts = events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("n_events").desc, col("user_id").asc)
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_type"), col("user_id").as("modal_user"), col("n_events"))
      .orderBy(col("event_type"))
  }

  // ===== profiling / MV maintenance =====

  /** Column profiler over `lineitem` — per column: null count, exact
    * distinct count, numeric min/max (timestamps as exact epoch-µs
    * doubles — |µs| < 2⁵³ so the cast is lossless), string min/max.
    *
    * Shape: one DISTINCT-AGGREGATE per column (groupBy(value) → 1-row
    * rollup), unioned. The obvious alternative — a single scan with six
    * `countDistinct`s — plans as an Expand that multiplies the shuffle
    * by #columns and re-hashes every row 6×; measured 9–11 s at sf0.1
    * against ~1 s for this shape, because each profile here scans ONE
    * column from parquet (column pruning does the work) and shuffles
    * only that column's distinct values. The six branches are
    * independent jobs a cluster runs concurrently. At 100 TB swap the
    * exact distinct for `approx_count_distinct` per branch; exact here
    * because the oracle hashes values. */
  def profileColumns(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "lineitem")
    val li = raw.withColumn("ship_us", Tables.tsMicros(raw, "l_shipdate"))
    def prof(name: String, v: Column, numeric: Boolean) = {
      val g = li.groupBy(v.as("v")).agg(count(lit(1)).as("cnt"))
      val agg = g.agg(
        sum(col("cnt")).as("n_rows"),
        coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("n_null"),
        count(when(col("v").isNotNull, lit(1))).as("n_distinct"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
      if (numeric) agg.select(lit(name).as("column_name"), col("n_rows"),
        col("n_null"), col("n_distinct"),
        col("mn").cast("double").as("min_num"), col("mx").cast("double").as("max_num"),
        lit(null).cast("string").as("min_str"), lit(null).cast("string").as("max_str"))
      else agg.select(lit(name).as("column_name"), col("n_rows"),
        col("n_null"), col("n_distinct"),
        lit(null).cast("double").as("min_num"), lit(null).cast("double").as("max_num"),
        col("mn").cast("string").as("min_str"), col("mx").cast("string").as("max_str"))
    }
    prof("l_quantity", col("l_quantity"), numeric = true)
      .unionByName(prof("l_extendedprice", col("l_extendedprice"), numeric = true))
      .unionByName(prof("l_discount", col("l_discount"), numeric = true))
      .unionByName(prof("l_shipdate_us", col("ship_us"), numeric = true))
      .unionByName(prof("l_returnflag", col("l_returnflag"), numeric = false))
      .unionByName(prof("l_linestatus", col("l_linestatus"), numeric = false))
      .orderBy(col("column_name"))
  }

  /** Equi-width histogram (10 bins) of `events.value` — the profiling
    * companion to [[profileColumns]]: two passes, bounds then binning,
    * with the 1-row bounds broadcast onto the scan (A9's scalar
    * pattern). The bin formula `least(floor((v−mn)·10/(mx−mn)), 9)` is
    * the identical IEEE double expression in both engines — doubles at
    * bin boundaries land identically, so the histogram is hash-exact
    * with no tolerance. One shuffle: the 10-row bin aggregate. */
  def profileHistogram(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("value"))
    val b = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    ev.crossJoin(broadcast(b))
      .select(
        least(floor(((col("value") - col("mn")) * 10) / (col("mx") - col("mn"))),
          lit(9.0)).cast("long").as("bin"),
        col("mn"), col("mx"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_events"), min(col("mn")).as("mn"),
        max(col("mx")).as("mx"))
      .withColumn("bin_lo", col("mn") + col("bin") * (col("mx") - col("mn")) / 10.0)
      .select(col("bin"), col("n_events"), col("bin_lo"))
      .orderBy(col("bin"))
  }

  /** Incremental materialized-view maintenance: the per-(event_type, day)
    * aggregate is split into a BASE partial (first 20 days, staged to
    * scratch parquet — "last night's MV") and a DELTA partial (the rest),
    * then merged by re-aggregating the partials: counts add, sums add,
    * min/min and max/max compose. The oracle recomputes the aggregate
    * from scratch over ALL events — equal hashes prove merged-partials ≡
    * full recompute, which is the entire point of the operator: at
    * 100 TB the nightly refresh touches only the delta. The float sum is
    * rounded 2 dp at the very end (partial grouping changes double
    * association; counts/min/max are exact). */
  def aggIncrementalMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("event_type"), expr(s"ts_us div $DayUs").as("day"), col("value"))
    val cut = ev.agg((min(col("day")) + 20L).as("cut_day"))
    val tagged = ev.crossJoin(broadcast(cut))
    def partial(df: DataFrame) = df
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
    val base = Ext.stage("mv_base", s, dir)(
      partial(tagged.filter(col("day") < col("cut_day"))))
    val delta = partial(tagged.filter(col("day") >= col("cut_day")))
    base.unionByName(delta)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n")).as("n"), round(sum(col("sum_v")), 2).as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Entity resolution via blocked fuzzy join: a deterministically
    * typo'd probe set (3rd character deleted from every 5th part name)
    * is matched back against the catalog under edit distance ≤ 2 —
    * the dirty-feed reconciliation every warehouse eventually needs.
    * The join is BLOCKED on the first-2-char prefix (preserved by the
    * deletion) plus a ±2 length band, so candidate pairs are
    * Σ block² rather than |probes|×|catalog|; at 100 TB the block key
    * widens (3-gram prefix × length bucket) but the shape is the same —
    * a cheap equi-join prunes, the expensive `levenshtein` only runs
    * inside blocks. Best match per probe by (distance, key) — total
    * order, deterministic. */
  def joinFuzzyNames(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
    // DEDUPE-THEN-PROPAGATE: a probe row's answer depends only on its
    // NAME, and names repeat heavily (the catalog draws from a small
    // vocabulary — ~50 distinct names over 20k rows at sf0.1, and the
    // same ratio at 100 TB for any real-world name column). So the
    // quadratic fuzzy work runs on |distinct names|² inside blocks —
    // row counts never enter it — and the per-name verdicts broadcast
    // back onto the row-level probes. The naive row-level blocked join
    // was 8.9M levenshtein calls at sf0.1 (7.7 s); this shape is ~50².
    // Tie-break equivalence: best part = min (dist, p_partkey) over all
    // candidate rows ≡ min (dist, name_min_key) over candidate NAMES,
    // because every part bearing a name shares its dist.
    val nameStats = parts.groupBy(col("p_name"))
      .agg(count(lit(1)).as("cnt"), min(col("p_partkey")).as("min_key"))
    val probeNames = parts
      .filter(col("p_partkey") % 5 === 0 && length(col("p_name")) >= 4)
      .select(concat(substring(col("p_name"), 1, 2), expr("substr(p_name, 4)"))
        .as("probe_name"))
      .distinct()
    val cands = probeNames.withColumn("blk", substring(col("probe_name"), 1, 2))
      .join(nameStats.withColumn("blk", substring(col("p_name"), 1, 2)), Seq("blk"))
      .filter(abs(length(col("p_name")) - length(col("probe_name"))) <= 2)
      .withColumn("dist", levenshtein(col("probe_name"), col("p_name")))
      .filter(col("dist") <= 2)
    val best = Window.partitionBy(col("probe_name"))
      .orderBy(col("dist").asc, col("min_key").asc)
    val verdicts = cands
      .withColumn("rn", row_number().over(best))
      .withColumn("n_candidates",
        sum(col("cnt")).over(Window.partitionBy(col("probe_name"))))
      .filter(col("rn") === 1)
      .select(col("probe_name"), col("min_key").as("match_key"),
        col("dist").cast("long").as("dist"), col("n_candidates"))
    parts
      .filter(col("p_partkey") % 5 === 0 && length(col("p_name")) >= 4)
      .select(col("p_partkey").as("probe_key"),
        concat(substring(col("p_name"), 1, 2), expr("substr(p_name, 4)"))
          .as("probe_name"))
      .join(broadcast(verdicts), Seq("probe_name"))
      .select(col("probe_key"), col("probe_name"), col("match_key"),
        col("dist"), col("n_candidates"))
      .orderBy(col("probe_key"))
  }

  /** Incremental distinct counting via MERGEABLE HLL sketches (Apache
    * DataSketches, built into Spark) — [[aggIncrementalMerge]]'s
    * sketch-world sibling and the only way "distinct users ever" stays
    * incremental at 100 TB: exact distinct needs the full history every
    * night, a mergeable sketch needs last night's 16 KB state. The base
    * window's per-type sketches are staged (binary column in scratch
    * parquet — the persisted "last night"), the delta's sketches are
    * fresh, `hll_union_agg` merges. The oracle pins the exact count and
    * a TRUE `within_5pct` bound (the agg_approx_distinct pattern):
    * lgK=14 gives ~0.8 % relative error, 5 % is generous headroom at
    * every SF. The bound compare is an integer cross-multiplication. */
  def aggHllIncremental(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("user_id"),
      expr(s"ts_us div $DayUs").as("day"))
    val cut = ev.agg((min(col("day")) + 20L).as("cut_day"))
    val tagged = ev.crossJoin(broadcast(cut))
    def sketch(df: DataFrame) = df.groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val base = Ext.stage("hll_base", s, dir)(
      sketch(tagged.filter(col("day") < col("cut_day"))))
    val delta = sketch(tagged.filter(col("day") >= col("cut_day")))
    val merged = base.unionByName(delta)
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
      .join(merged, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("est") - col("n_exact")) * 20 <= col("n_exact")).as("within_5pct"))
      .orderBy(col("event_type"))
  }

  // ===== graph =====

  /** PageRank over the part co-purchase graph (distinct part pairs
    * sharing an order, both directions), 5 iterations, damping 0.85 —
    * in FIXED-POINT INTEGER arithmetic: ranks are long µ-units
    * (SCALE = 10⁹), contributions are `rank div outdeg`, damping is
    * `(85·Σ) div 100`. Long sums are exact and order-invariant, so the
    * result is bit-identical across engines and partitionings — float
    * PageRank would hash-diverge on accumulation order alone.
    *
    * Scale shape: the edge relation (with out-degree attached) is staged
    * once to scratch parquet — column-pruned re-reads per iteration, no
    * lineage blow-up. Each iteration is the join-shuffle PageRank
    * fundamentally is (edges×ranks on src, regroup on dst); on a real
    * cluster both sides would be co-bucketed on src so only the dst
    * regroup shuffles. Every node in the symmetric graph has outdeg ≥ 1 —
    * no dangling mass. 10⁹-scale ranks keep `85·Σ` < 2⁶³ up to ~10⁸
    * nodes. */
  /** The co-purchase edge relation `(src, dst, deg, deg_dst)` — symmetric
    * distinct part pairs sharing an order, BOTH endpoint out-degrees
    * attached at stage time (AQE broadcasts the |nodes|-sized count
    * side; r12 added deg_dst so no consumer re-joins the degree table
    * per query — [[graphAssortativity]], [[orientEdges]] and
    * [[graphEdgeJaccard]] each used to pay that node-scale join on
    * every invocation), staged once per (JVM, sf) and shared by the
    * whole graph family. */
  private[queries] def stagedEdges(s: SparkSession, dir: String): DataFrame =
    Ext.stage("pr_edges", s, dir)({
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") =!= col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
        .distinct()
      val deg = pairs.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      pairs.join(deg, Seq("src"))
        .join(deg.select(col("src").as("dst"), col("deg").as("deg_dst")),
          Seq("dst"))
        .select(col("src"), col("dst"), col("deg"), col("deg_dst"))
    })

  /** DEGREE ASSORTATIVITY of the co-purchase graph — the one-number
    * graph-health probe (do hubs link to hubs?): Pearson correlation of
    * endpoint degrees over the directed edge list, by the
    * exact-moments-then-combine pattern ([[profileCorrelation]]): the
    * six sufficient statistics fold as EXACT integers and the
    * coefficient is one fixed double expression. Shares the staged
    * [[stagedEdges]] relation (out-degree already attached).
    *
    * Scale: one |edges| join keyed on dst (AQE broadcasts the
    * |nodes|-sized degree side) and a 1-row map-side-combined rollup. */
  def graphAssortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = stagedEdges(s, dir) // (src, dst, deg, deg_dst) — symmetric
    edges
      .select(col("deg").as("x"), col("deg_dst").as("y"))
      .groupBy()
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_x2"),
        sum(col("y") * col("y")).as("sum_y2"))
      .withColumn("assortativity",
        (col("n").cast("double") * col("sum_xy") -
          col("sum_x").cast("double") * col("sum_y")) /
          sqrt((col("n").cast("double") * col("sum_x2") -
            col("sum_x").cast("double") * col("sum_x")) *
            (col("n").cast("double") * col("sum_y2") -
              col("sum_y").cast("double") * col("sum_y"))))
  }

  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    // r12 OPTIMIZATION 2 (guide §2.4/§3.3 — materialize the shared
    // subtree): the iteration join `edges ⋈ ranks ON src = node` used to
    // recompute the edge side EVERY iteration — the plan audit showed
    // iterations 1–2 with a BroadcastHashJoin probing a fresh
    // scan+project of the staged parquet each, and iterations 3–5
    // degraded to SortMergeJoin (Catalyst's size estimate of the rank
    // relation inflates through the nested agg chain until the broadcast
    // stops firing), each with its own Exchange whose CHILD subtrees
    // differ per iteration and so cannot all stage-reuse. Materializing
    // the 3-column edge projection ONCE via localCheckpoint makes every
    // iteration's edge side the identical `Scan ExistingRDD` — the five
    // join exchanges become canonically equal, AQE materializes the
    // shuffle once and the other four read it. (Note, measured: under
    // AQE a localCheckpoint does NOT preserve output partitioning —
    // LogicalRDD reports unknown — so pre-shuffling before the
    // checkpoint is pure waste; the stage-reused exchange above the RDD
    // scan is what removes the per-iteration cost.) The per-iteration
    // contribution rollup by dst is the one shuffle pagerank
    // fundamentally requires (§1.1). Warm sf0.1: 4.5 → 2.7 s, CPU
    // 47 → 16 s; values and row set bit-identical (same expressions).
    val edges = stagedEdges(s, dir)
      .select(col("src"), col("dst"), col("deg"))
      .localCheckpoint()
    val nodes = edges.select(col("src").as("node")).distinct()
    var ranks = nodes.withColumn("rank", lit(1000000000L))
    for (_ <- 1 to 5) {
      // (r12, kept from the interrupted session): no per-iteration node
      // re-attach — the staged relation is SYMMETRIC with deg ≥ 1
      // everywhere, so the rollup's dst set IS the node set.
      ranks = edges.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("m"))
        .select(col("dst").as("node"),
          (lit(150000000L) + expr("(85 * m) div 100")).as("rank"))
    }
    ranks.select(col("node").as("part_key"), col("rank")).orderBy(col("part_key"))
  }

  /** Triangle counting + local clustering coefficient over the same
    * co-purchase graph as [[graphPagerank]] (staged edge relation
    * shared). Edges are ORIENTED low-degree → high-degree before the
    * wedge join — the standard trick that bounds wedge work by
    * O(Σ out²) ≤ O(α·m) (α = arboricity) instead of Σ deg², which on a
    * skewed graph is the difference between a shuffle and a blow-up; a
    * hub of degree 10⁶ contributes zero wedges as a source because all
    * its edges orient INTO it. Every count is a long and the
    * coefficient's one division is the same IEEE op both sides —
    * hash-exact, no tolerance. */
  /** Degree-oriented edge relation shared by the triangle family (both
    * degrees ride [[stagedEdges]] — no per-call degree join). */
  private def orientEdges(edges: DataFrame): DataFrame =
    edges
      .filter(col("deg") < col("deg_dst") ||
        (col("deg") === col("deg_dst") && col("src") < col("dst")))
      .select(col("src").as("a"), col("dst").as("b"))

  /** Triangle instances `(wa, wb, wc)` from a degree-oriented edge set,
    * plus the bloom-broadcast handle so the one caller (the
    * [[stagedTriSupport]] build) can destroy it once the staged write
    * lands (ADVICE r11: the handle used to leak per invocation).
    *
    * The wedge relation is O(Σ out²) rows and must NEVER land anywhere:
    * with the continuation (y) and closing (z) edge sets both BROADCAST
    * (|m| rows of 2 longs — tens of MB far beyond these SFs), the whole
    * pipeline scans → expands → probes → downstream with zero shuffles
    * of wedge-sized data. When m outgrows a broadcast, the scale path is
    * bucketing the oriented edges on their first column and sort-merging
    * — the wedge stream still only ever flows, never lands.
    *
    * BLOOM PREFILTER (r11): the closing probe is the family's true cost
    * — at 10× data ~490 M wedges each probe the 12 M-entry two-long
    * hash relation at ~4 µs apiece (~2,000 executor-CPU-s, measured;
    * hidden for rounds because `count()` benching let Catalyst prune
    * the whole pipeline — see NOTES). A 1 %-fpp Bloom over
    * xxhash64(a, b) turns ~96 % of probes into a codegen'd bit test
    * ([[graft.functions.BloomMightContainLong]]); the exact join still
    * verifies every survivor, so false positives drop out and the
    * output is bit-identical. Measured 66 → 11 s for the forced
    * triangle count at 10×.
    *
    * Above `broadcastEdgeCap` edges the oriented relation stops being
    * broadcast (Spark's hard broadcast cap is 8 GiB; the 100× probe's
    * 120 M-edge relation hashed to 11.2 GiB and failed loudly) and the
    * wedge joins fall back to sort-merge. The wedge stream then DOES
    * shuffle once — but only the ~4 % bloom survivors reach the closing
    * exchange, so the landed relation is edge-scale, not Σ out²-scale. */
  private def triangleInstances(s: SparkSession, oriented: DataFrame,
      broadcastEdgeCap: Long): (DataFrame, org.apache.spark.broadcast.Broadcast[_]) = {
    import org.apache.spark.sql.graft.Bridge
    val nE = oriented.count() // one |E|-scan action: sizes the filter
    val bf = oriented.select(xxhash64(col("a"), col("b")).as("k"))
      .stat.bloomFilter("k", math.max(nE, 1L), 0.01)
    val bfBc = s.sparkContext.broadcast(bf)
    def might(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      Bridge.column(graft.functions.BloomMightContainLong(Bridge.expression(c), bfBc))
    def side(df: DataFrame): DataFrame =
      if (nE > broadcastEdgeCap) df else broadcast(df)
    val tri = oriented.as("x")
      .join(side(oriented.as("y")), col("x.b") === col("y.a"))
      .select(col("x.a").as("wa"), col("x.b").as("wb"), col("y.b").as("wc"))
      .filter(might(xxhash64(col("wa"), col("wc"))))
      .join(side(oriented.as("z")),
        col("wa") === col("z.a") && col("wc") === col("z.b"))
      .select(col("wa"), col("wb"), col("wc"))
    (tri, bfBc)
  }

  /** PER-EDGE TRIANGLE SUPPORT `(u, v, common)` with u < v — the one
    * triangle-family relation both [[graphTriangles]] and
    * [[graphEdgeJaccard]] consume, STAGED once per (JVM, sf) like
    * [[stagedEdges]] (r11 verdict What's-wrong #1: each query used to
    * re-run the whole wedge enumeration + the eager bloom build at
    * DataFrame-construction time; at 10× that made edge-Jaccard alone
    * a third of the suite's CPU). The wedge pipeline now runs exactly
    * once per corpus generation; every later consumer reads an
    * edge-scale parquet with MATERIALIZED unordered-edge key columns,
    * so downstream joins are plain column equi-joins, not
    * least/greatest expression keys. r12 OPTIMIZATION: below
    * [[AdjEdgeCap]] the build is [[triSupportByAdjacency]] (broadcast-
    * CSR common-neighbor counting — no wedge stream at all); beyond it,
    * the sequenced wedge enumeration [[triSupportByWedges]]. */
  /** Symmetric-edge-entry cap for the broadcast-adjacency support path
    * ([[triSupportByAdjacency]]): 2 longs per entry, so the default
    * 300 M entries ≈ 2.4 GB of primitive neighbor arrays on the driver
    * and (one copy, local mode) on the executors — comfortably inside
    * the 32 GB heap, and ~60× smaller than the two HashedRelation
    * broadcasts the wedge path builds for the same graph (the 100×
    * probe's 240 M-entry relation hashed to 11.2 GiB and failed; its
    * CSR form is 1.9 GB). Past the cap the build falls back to the
    * sequenced wedge enumeration, whose sort-merge fallback is the
    * honest beyond-one-box path. */
  private val AdjEdgeCap = 300000000L

  /** Per-edge triangle support by BROADCAST-ADJACENCY INTERSECTION —
    * support{u,v} of an edge is |N(u) ∩ N(v)| (each common neighbor is
    * exactly one triangle through the edge), so instead of enumerating
    * the O(Σ out²) wedge stream through two broadcast hash joins and a
    * bloom probe (~2–4 µs per wedge, 95 executor-CPU-s at sf0.1 / ~1,100
    * at 10× — the r11 verdict's top CPU item even after staging), the
    * symmetric edge list is collected into a compact CSR (sorted node
    * index + sorted primitive neighbor slices, 16 B/entry), broadcast
    * once, and every canonical edge's support is one sorted-merge count
    * (~ns per element, Σ deg² total steps). No triangle instance is
    * ever materialized, nothing shuffles, and the output lands straight
    * in the staged parquet. Values are bit-identical to the wedge
    * enumeration ([[Round12PerfSpec]] pins equality at two SFs; the
    * triangles/edge-Jaccard oracle gates re-verify end to end).
    *
    * The collect is the standard build side of a broadcast (guide §3.1)
    * — same driver residency as the wedge path's two BroadcastExchanges,
    * in a far smaller structure — and is gated by [[AdjEdgeCap]]. */
  private[queries] def triSupportByAdjacency(
      s: SparkSession, edges: DataFrame, nSym: Long): DataFrame = {
    import s.implicits._
    val log = graft.core.PhaseLog.start("tri_adj")
    require(nSym < Int.MaxValue.toLong, s"adjacency path needs nSym < 2^31, got $nSym")
    val n = nSym.toInt
    // packed per-partition (srcs, dsts) chunks — primitive arrays, no
    // Row boxing on the driver
    val chunks = edges.select(col("src"), col("dst"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val sb = new scala.collection.mutable.ArrayBuilder.ofLong
        val db = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { case (a, b) => sb += a; db += b }
        Iterator.single((sb.result(), db.result()))
      }.collect()
    val srcs = new Array[Long](n)
    val dsts = new Array[Long](n)
    var off = 0
    chunks.foreach { case (a, b) =>
      System.arraycopy(a, 0, srcs, off, a.length)
      System.arraycopy(b, 0, dsts, off, b.length)
      off += a.length
    }
    require(off == n, s"edge collect saw $off entries, count said $n")
    log(s"collected sym_entries=$n")
    // sorted node index (every node appears as a src in the symmetric
    // relation), then CSR: counts -> offsets -> scatter -> sorted slices
    val nodeIds = {
      val tmp = srcs.clone()
      java.util.Arrays.sort(tmp)
      var m = 0
      var i = 0
      while (i < tmp.length) {
        if (m == 0 || tmp(m - 1) != tmp(i)) { tmp(m) = tmp(i); m += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(tmp, m)
    }
    val nNodes = nodeIds.length
    val starts = new Array[Int](nNodes + 1)
    var i = 0
    while (i < n) {
      starts(java.util.Arrays.binarySearch(nodeIds, srcs(i)) + 1) += 1
      i += 1
    }
    i = 1
    while (i <= nNodes) { starts(i) += starts(i - 1); i += 1 }
    val nbrs = new Array[Long](n)
    val cursor = java.util.Arrays.copyOf(starts, nNodes)
    i = 0
    while (i < n) {
      val ni = java.util.Arrays.binarySearch(nodeIds, srcs(i))
      nbrs(cursor(ni)) = dsts(i)
      cursor(ni) += 1
      i += 1
    }
    i = 0
    while (i < nNodes) {
      java.util.Arrays.sort(nbrs, starts(i), starts(i + 1))
      i += 1
    }
    log(s"csr built nodes=$nNodes")
    val bc = s.sparkContext.broadcast((nodeIds, starts, nbrs))
    // node-range chunks balanced by cumulative degree, one per task
    val nChunks = math.max(1,
      math.min(nNodes, s.sparkContext.defaultParallelism * 3))
    s.range(0, nChunks.toLong, 1, nChunks).as[Long]
      .mapPartitions { chunkIt =>
        val (ids, st, nb) = bc.value
        val total = nb.length.toLong
        val nN = ids.length
        def cut(c: Long): Int = {
          // first node index whose cumulative degree reaches c/nChunks
          // of the total — binary search on the offsets array
          val target = total * c / nChunks
          var lo = 0; var hi = nN
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (st(mid).toLong < target) lo = mid + 1 else hi = mid
          }
          lo
        }
        chunkIt.flatMap { c =>
          val from = cut(c)
          val until = cut(c + 1)
          (from until until).iterator.flatMap { ni =>
            val u = ids(ni)
            val uLo = st(ni); val uHi = st(ni + 1)
            (uLo until uHi).iterator.flatMap { k =>
              val v = nb(k)
              if (v <= u) Iterator.empty
              else {
                val vi = java.util.Arrays.binarySearch(ids, v)
                var a = uLo; var b = st(vi); val bHi = st(vi + 1)
                var common = 0L
                while (a < uHi && b < bHi) {
                  val x = nb(a); val y = nb(b)
                  if (x < y) a += 1
                  else if (x > y) b += 1
                  else { common += 1; a += 1; b += 1 }
                }
                if (common > 0) Iterator.single((u, v, common))
                else Iterator.empty
              }
            }
          }
        }
      }
      .toDF("u", "v", "common")
  }

  /** Per-edge triangle support by the SEQUENCED WEDGE ENUMERATION — the
    * beyond-[[AdjEdgeCap]] fallback: the wedge pipeline runs once, its
    * triangle instances land as a staged table, and the per-edge rollup
    * runs as THREE SEQUENTIAL per-position aggregations (each staged,
    * so one partial-agg spill is paid and freed before the next starts)
    * instead of one 3|T|-row explode+groupBy — at the 100× probe the
    * single-shot form needed ~80-100 GB of concurrent sort spill (more
    * than a single box's scratch; the first attempt filled the disk
    * twice), while the sequenced form peaks at ~|T| parquet + one
    * position's spill. Σ of the three position counts ≡ the exploded
    * count, so values are bit-identical to [[triSupportByAdjacency]].
    * `broadcastEdgeCap` is [[triangleInstances]]'s broadcast cap. */
  private[queries] def triSupportByWedges(
      s: SparkSession, dir: String, edges: DataFrame,
      broadcastEdgeCap: Long = 40000000L)
      : (DataFrame, org.apache.spark.broadcast.Broadcast[_]) = {
    val (tri0, bfBc) = triangleInstances(s, orientEdges(edges), broadcastEdgeCap)
    val tri = Ext.stage("tri_inst", s, dir)(tri0)
    def posAgg(x: String, y: String, name: String): DataFrame =
      Ext.stage(name, s, dir)(
        tri.select(least(col(x), col(y)).as("u"),
            greatest(col(x), col(y)).as("v"))
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c")))
    val p1 = posAgg("wa", "wb", "tri_p1")
    val p2 = posAgg("wb", "wc", "tri_p2")
    val p3 = posAgg("wa", "wc", "tri_p3")
    (p1.unionByName(p2).unionByName(p3)
      .groupBy(col("u"), col("v")).agg(sum(col("c")).as("common")), bfBc)
  }

  private def stagedTriSupport(s: SparkSession, dir: String): DataFrame = {
    // the bloom broadcast (wedge path only) is destroyed once the staged
    // tri_support write has landed (ADVICE r11: the handle used to leak)
    var bloom: Option[org.apache.spark.broadcast.Broadcast[_]] = None
    val out = Ext.stage("tri_support", s, dir)({
      val edges = stagedEdges(s, dir)
      val nSym = edges.count() // parquet-footer count on the staged table
      if (nSym <= AdjEdgeCap) triSupportByAdjacency(s, edges, nSym)
      else {
        val (df, bfBc) = triSupportByWedges(s, dir, edges)
        bloom = Some(bfBc)
        df
      }
    })
    bloom.foreach(_.destroy())
    out
  }

  /** Bench hook ([[graft.Bench]]'s `_graph_stage` entry): force the
    * co-purchase edge relation — consumed by the whole graph family —
    * so its build cost is attributed to an explicit staging entry, not
    * to whichever graph query runs first alphabetically
    * ([[Ext.stageDedupRelations]] precedent). */
  def stageGraphRelations(s: SparkSession, dir: String): Unit = {
    stagedEdges(s, dir)
    ()
  }

  /** Bench hook (`_graph_tri_stage`): the per-edge triangle support —
    * consumed only by [[graphTriangles]] / [[graphEdgeJaccard]], and
    * split from [[stageGraphRelations]] because its wedge-enumeration
    * spill is the family's one single-box scale boundary (the 100×
    * probe needs ~80–100 GB of scratch for the 1.5 B-row support
    * partial aggregation — distributed scratch on a real cluster, more
    * than this box's disk): a probe that excludes the two consumers
    * must be able to skip the build. */
  def stageTriSupport(s: SparkSession, dir: String): Unit = {
    stagedTriSupport(s, dir)
    ()
  }

  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val edges = stagedEdges(s, dir) // (src, dst, deg) — symmetric, deg = out-deg
    val degT = edges.select(col("src").as("node"), col("deg")).distinct()
    // per-node count from the staged per-edge support: every triangle at
    // node u lies on exactly TWO support edges incident to u, so
    // n_tri(u) = Σ_{v∈N(u)} support{u,v} / 2 — an exact-integer identity
    // that turns the old per-query wedge re-enumeration into a
    // support-scale explode + node-keyed rollup over staged parquet
    val cnt = stagedTriSupport(s, dir)
      .select(explode(array(col("u"), col("v"))).as("node"), col("common"))
      .groupBy(col("node")).agg((sum(col("common")) / 2).cast("long").as("tri"))
    degT.join(broadcast(cnt), Seq("node"), "left")
      .withColumn("n_tri", coalesce(col("tri"), lit(0L)))
      .select(col("node"), col("deg"), col("n_tri"),
        when(col("deg") >= 2,
          round((col("n_tri") * 2) / (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy(col("node"))
  }

  /** EDGE-JACCARD SPARSIFICATION — per-edge tie strength over the
    * co-purchase graph: for every edge {u, v}, the Jaccard similarity
    * of the endpoint neighborhoods (|N(u)∩N(v)| = the edge's triangle
    * support, read from the shared [[stagedTriSupport]] relation — the
    * degree-oriented wedge enumeration runs once per corpus, streamed,
    * never landed), then each node keeps its top-2 strongest ties — the
    * local-sparsification primitive that prunes a graph to its
    * community backbone before any expensive downstream pass. Fully
    * integer: support and degrees are counts and the score is ppm by
    * integer division, so ranking and output are hash-exact (rank ties
    * broken by neighbor id).
    *
    * Scale: the wedge enumeration lives in [[stagedTriSupport]], paid
    * once per corpus; this query is ONE edge-scale equi-join (support
    * on the materialized unordered key; both endpoint degrees already
    * ride the staged edge relation) and the rank/top-k window on the
    * |E| scored relation. */
  def graphEdgeJaccard(s: SparkSession, dir: String): DataFrame = {
    val edges = stagedEdges(s, dir) // (src, dst, deg, deg_dst) — symmetric
    val support = stagedTriSupport(s, dir) // (u, v, common), u < v
    // support is |triangle-edges|-sized — EDGE scale, not dim scale, so
    // it must never be broadcast (hinting it broadcast cost 1,100
    // executor-CPU-s at 10×: every task of every downstream stage
    // deserializes the multi-million-entry build map); the shuffle join
    // moves each side once, keyed on the MATERIALIZED unordered-edge
    // columns — expression keys (least/greatest inside the join
    // condition) planned an extra projection per probe row at 10×
    val scored = edges // symmetric: every edge scored from both endpoints
      .withColumn("u", least(col("src"), col("dst")))
      .withColumn("v", greatest(col("src"), col("dst")))
      .join(support, Seq("u", "v"), "left")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .withColumn("jaccard_ppm",
        expr("(common * 1000000) div (deg + deg_dst - common)"))
    val byNode = Window.partitionBy(col("src"))
      .orderBy(col("jaccard_ppm").desc, col("common").desc, col("dst"))
    scored.withColumn("rk", row_number().over(byNode))
      .filter(col("rk") <= 2)
      .select(col("u"), col("v"), col("common"), col("jaccard_ppm"))
      .distinct() // an edge may be a top tie of BOTH endpoints
      .orderBy(col("u"), col("v"))
  }

  /** INTERVAL-UNION METERING — each event projects a ±15 min activity
    * interval; per user, overlapping/touching intervals merge and the
    * query emits the island count and total covered µs: the
    * effective-usage / billing primitive ("how long was the user
    * actually active", where summing raw durations double-counts
    * overlaps). Classic gaps-and-islands: an island starts when a start
    * exceeds the running max of all earlier ends (strict >, so touching
    * intervals merge); all integer µs.
    *
    * Scale: both windows partition BY USER over (start, end, event_id) —
    * bounded per-user lists, one shuffle; the rollup is |users|-sized. */
  def winIntervalUnion(s: SparkSession, dir: String): DataFrame = {
    val pad = 900000000L // ±15 min
    val ev = events(s, dir).select(col("user_id"), col("event_id"),
      (col("ts_us") - pad).as("st"), (col("ts_us") + pad).as("en"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("st"), col("en"), col("event_id"))
    val prevMax = max(col("en")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    ev
      .withColumn("brk",
        when(prevMax.isNull || col("st") > prevMax, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("st")).as("i_st"), max(col("en")).as("i_en"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("i_en") - col("i_st")).as("active_us"))
      .orderBy(col("user_id"))
  }

  /** PEAK CONCURRENCY — the maximum number of simultaneously-active
    * ±15 min event intervals corpus-wide, and the earliest boundary
    * instant attaining it: the sweep-line classic (capacity planning,
    * "how many sessions at once"). Boundaries are (+1 at start, −1 at
    * end) with ends ordered BEFORE starts at equal t (half-open
    * intervals — touching never double-counts), and the running sum is
    * [[graft.core.PrefixSum]] over the total boundary order (t, d,
    * event_id) — the global ordered sweep WITHOUT the corpus-sized
    * single-partition window the naive form plans.
    *
    * Scale: one range shuffle of 2×|events| boundary rows; every window
    * is per-pid; the offset table is |pids|-sized. */
  def eventsConcurrencyPeak(s: SparkSession, dir: String): DataFrame = {
    val pad = 900000000L
    val ev = events(s, dir).select(col("event_id"), col("ts_us"))
    val bounds = ev
      .select(col("event_id"), (col("ts_us") - pad).as("t"), lit(1L).as("d"))
      .unionByName(ev.select(col("event_id"), (col("ts_us") + pad).as("t"),
        lit(-1L).as("d")))
    val local = Ext.stage("concpeak", s, dir)(
      PrefixSum.rangeTag(bounds, col("t"), col("d"), col("event_id")))
    val (withOffset, _) = PrefixSum.offsets(local, col("d"))
    val wPid = Window.partitionBy(col("pid"))
      .orderBy(col("t"), col("d"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val running = withOffset(local.withColumn("lc", sum(col("d")).over(wPid)))
      .withColumn("c", col("poff") + col("lc"))
    val peakRow = running.agg(max(col("c"))).head()
    // empty slice: the oracle's `max(c)` over zero boundaries is NULL —
    // emit (0, NULL, NULL), not (0, 0, NULL) (ADVICE r8). The filter
    // below compares against 0 harmlessly (empty relation either way).
    val peakIsNull = peakRow.isNullAt(0)
    val peak = if (peakIsNull) 0L else peakRow.getLong(0)
    val peakCol = if (peakIsNull) lit(null).cast("long") else lit(peak)
    // n_intervals from the STAGED boundary relation (2 rows per event,
    // metadata-cheap parquet count) — re-counting the raw events table
    // would be a second full scan of the query's biggest input
    val nIntervals = local.count() / 2
    running.filter(col("c") === peak)
      .agg(min(col("t")).as("at_t_us"))
      .select(lit(nIntervals).as("n_intervals"), peakCol.as("peak"),
        col("at_t_us"))
  }

  /** SEQUENCE SUPPORT — for every ordered event-type pair (a, b), how
    * many users exhibit "some a, then later some b" (the level-1
    * PrefixSpan/SPAM support count behind sequential pattern mining;
    * distinct from [[eventsTransitions]], which counts ADJACENT
    * occurrences). "a then b anywhere" ⟺ `min ts(a) < max ts(b)` per
    * user, so the whole mine reduces to one per-(user, type) min/max
    * aggregate and a |types|² pairing inside each user — never a
    * self-join of the event stream. Ties at the same µs don't count
    * (strict <), pinning the boundary deterministically.
    *
    * Scale: one shuffle keyed by (user, type) with map-side combine;
    * the pairing fans each user's ≤ |types| rows by |types| (a bounded
    * constant); the support rollup is |types|²-sized. */
  def eventsSeqSupport(s: SparkSession, dir: String): DataFrame = {
    val bounds = events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"))
    val a = bounds.select(col("user_id"), col("event_type").as("a"),
      col("first_us"))
    val b = bounds.select(col("user_id"), col("event_type").as("b"),
      col("last_us"))
    a.join(b, Seq("user_id"))
      .filter(col("first_us") < col("last_us"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("a"), col("b"))
  }

  /** BFS LEVELS — minimum hop distance (≤ 3) from the five lowest-id
    * part nodes over the shared co-purchase graph: the reachability /
    * blast-radius primitive (recall expansion from a seed set, related-
    * item discovery) and the third operator on [[stagedEdges]]'s staged
    * relation. Frontier-iterated: each hop joins the CURRENT frontier
    * to the edges, anti-joins everything already visited (so a node's
    * recorded level IS its minimum distance), and `localCheckpoint`s the
    * visited set — the NOTES rule: per-iteration lineage must truncate
    * to a leaf or round-N planning cost grows super-linearly.
    *
    * Scale: per hop, one join keyed by src (co-bucketed with the staged
    * edges on a cluster) + one anti-join against the visited set;
    * frontier and visited are |nodes|-bounded, never path-counted —
    * where the oracle's recursive CTE enumerates PATHS (fine for DuckDB
    * at gate scale, exponential at 100 TB), the engine's visited-set BFS
    * is linear in edges × hops. */
  def graphBfsLevels(s: SparkSession, dir: String): DataFrame = {
    val edges = stagedEdges(s, dir).select(col("src"), col("dst"))
    val nodes = edges.select(col("src").as("node")).distinct()
    var visited = nodes.orderBy(col("node")).limit(5)
      .select(col("node"), lit(0L).as("level"))
      .localCheckpoint()
    for (h <- 1 to 3) {
      val frontier = visited.filter(col("level") === (h - 1).toLong)
      // frontier and visited are |nodes|-bounded — tiny next to the edge
      // relation — so BOTH per-hop joins broadcast them (r8 verdict #5):
      // the expansion probes the edge scan in place and the anti-join
      // never shuffles the candidate set. At extreme node counts the
      // hint comes off and both fall back to shuffle joins keyed by the
      // staged edges' own bucketing.
      val next = edges.join(broadcast(frontier), col("src") === col("node"))
        .select(col("dst").as("node")).distinct()
        .join(broadcast(visited.select(col("node").as("v"))),
          col("node") === col("v"), "left_anti")
        .withColumn("level", lit(h.toLong))
      visited = visited.unionByName(next).localCheckpoint()
    }
    visited.select(col("node").as("part_key"), col("level"))
      .orderBy(col("part_key"))
  }

  /** CONNECTED COMPONENTS over the REPEAT-co-purchase graph (r8 verdict
    * stretch #7): parts linked when they share ≥ 2 distinct orders — the
    * single-order threshold yields one giant near-clique (measured: all
    * 2000 parts, one component), while the repeat threshold leaves real
    * cluster structure (9 components at sf0.01). Labels are the
    * component's minimum node id, via [[Dedup.connectedComponents]]'s
    * measured HYBRID: edge count ≤ 4M → exact driver union-find (the
    * pair graph is orders smaller than the corpus, and every distributed
    * round costs a shuffle barrier); bigger → iterative min-label
    * propagation with per-round `localCheckpoint` (diameter-bounded).
    * The oracle is the same recursive min-reach CTE `dedup_apply` uses.
    *
    * Scale: the weighted edge mine is one distinct + one self-join
    * keyed by order (orders bound the fan-out) + one count shuffle on
    * the pair — the same plan family as [[stagedEdges]]; everything
    * after operates on the |edges|-sized relation, never the corpus. */
  def graphComponents(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(repeatEdges(s, dir))
      .select(col("id").as("part_key"), col("component"))
      .orderBy(col("part_key"))

  /** LABEL-PROPAGATION COMMUNITIES (4 synchronous rounds) over the
    * repeat co-purchase graph — the near-linear community detector a
    * graph pipeline runs where modularity methods don't scale. Each
    * round every node adopts the label the MOST neighbors held last
    * round, ties to the SMALLEST label. Classic asynchronous LPA is
    * famously visit-order-dependent; the BOUNDED SYNCHRONOUS form is
    * the variant with a cross-engine-replayable contract, so that is
    * the pinned semantics (4 rounds, initial label = node id).
    *
    * Scale: each round is one |E| join against the |V| label relation
    * (AQE broadcasts the label side) plus one (node, label) rollup —
    * the [[graphKcore]] bounded-round discipline; no driver-side
    * state, no quadratic structure. */
  def graphLabelProp(s: SparkSession, dir: String): DataFrame = {
    val pairs = repeatEdges(s, dir)
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to 4) {
      // argmax by (count, then smallest label): max(struct(c, -lbl))
      labels = edges
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("src").as("node"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
    }
    labels.select(col("node").as("part_key"), col("lbl").as("community"))
      .orderBy(col("part_key"))
  }

  /** MAXIMUM-WEIGHT SPANNING FOREST (Borůvka) over the repeat
    * co-purchase graph — the "backbone" extraction a graph pipeline
    * runs before visualization or hierarchy building: keep, per
    * component, the spanning tree of STRONGEST co-purchase ties.
    * Borůvka is the distribution-native MST algorithm (Kruskal needs a
    * global edge sort + sequential union-find; Prim grows one frontier):
    * every component picks its best incident edge SIMULTANEOUSLY, the
    * picked edges merge components, and the component count at least
    * halves per round — ⌈log₂ V⌉ rounds total, each round one |E| ⋈ |V|
    * label join plus a per-component argmax.
    *
    * Determinism: the edge total order is the composite
    * (−w, min(u,v), max(u,v)) — strict (no two edges tie on all
    * three), so the forest is UNIQUE and both the independent Kruskal
    * twin ([[MstRef]] in test scope) and any round schedule agree
    * edge-for-edge. Contraction reuses
    * [[graft.ext.Dedup.connectedComponents]] on the ≤|components|-row
    * chosen-edge relation (min-label components). Bounded contract
    * (the [[graphKcore]] discipline): ≤ 10 rounds plus a `converged`
    * flag — a round that picks zero cross-component edges is the
    * fixpoint; all three SFs converge well inside the bound.
    *
    * Output is the per-tree summary (node/edge counts, total weight,
    * and an order-free integer digest of the edge set —
    * Σ cu·1000003 + cv·97 + w — so the gate pins every chosen edge
    * without corpus-scale output); the oracle is the captured sf0.01
    * literal (the [[graft.queries.Pipeline]] pattern-modes stability
    * pin; forest correctness itself is [[MstRef]] twin territory).
    *
    * Scale: per round the |E| relation joins the |V| label relation
    * (AQE broadcasts the label side while it fits; co-bucketing on a
    * cluster removes the edge shuffle), the argmax is a map-side-
    * combinable min(struct) per component, and the contraction CC runs
    * on a relation no larger than the component count. localCheckpoint
    * per round truncates the iterative lineage. The iteration-invariant
    * symmetrized edge relation is materialized ONCE before the loop
    * (r13, guide §2.4 — the graph_pagerank shape: every round's join
    * re-derived the staged-parquet scan + union + projection; as RDD
    * blocks the subtree is also canonically equal across rounds, so any
    * SMJ-era exchanges of it stage-reuse); the per-round chosen edges
    * are each checkpointed once and unioned AFTER the loop instead of
    * re-checkpointing the growing accumulated union every round. */
  def graphMst(s: SparkSession, dir: String): DataFrame = {
    val pairs = repeatEdges(s, dir) // (id1 < id2, w = co-purchase count)
    val sym = pairs.select(col("id1").as("src"), col("id2").as("dst"), col("w"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst"), col("w")))
      .localCheckpoint()
    var comp = sym.select(col("src").as("node")).distinct()
      .withColumn("c", col("node")).localCheckpoint()
    val chosenRounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var rounds = 0
    var converged = false
    while (rounds < 10 && !converged) {
      val e2 = sym
        .join(comp.select(col("node").as("src"), col("c").as("cs")), Seq("src"))
        .join(comp.select(col("node").as("dst"), col("c").as("cd")), Seq("dst"))
        .filter(col("cs") =!= col("cd"))
      // per component: the (−w, cu, cv)-minimal incident edge; cd rides
      // along for the contraction (never compared: (cu, cv) is unique)
      val best = e2
        .groupBy(col("cs"))
        .agg(min(struct((-col("w")).as("nw"),
          least(col("src"), col("dst")).as("cu"),
          greatest(col("src"), col("dst")).as("cv"),
          col("cd").as("cd"))).as("m"))
        .select(col("cs"), col("m.cd").as("cd"), col("m.cu").as("cu"),
          col("m.cv").as("cv"), (-col("m.nw")).as("w"))
        .localCheckpoint()
      if (best.isEmpty) converged = true
      else {
        // per-round pick, checkpointed once; the cross-round union is
        // flat lineage over already-materialized blocks — built after
        // the loop, never re-checkpointed per round
        chosenRounds += best.select(col("cu"), col("cv"), col("w")).distinct()
          .localCheckpoint()
        val contr = graft.ext.Dedup.connectedComponents(
          best.select(col("cs").as("id1"), col("cd").as("id2")).distinct())
        comp = comp
          .join(broadcast(contr.select(col("id").as("c"),
            col("component").as("c2"))), Seq("c"), "left")
          .select(col("node"), coalesce(col("c2"), col("c")).as("c"))
          .localCheckpoint()
      }
      rounds += 1
    }
    val treeOf = comp.select(col("node").as("cu"), col("c"))
    val chosen = chosenRounds.reduce(_.unionByName(_))
    chosen
      .join(treeOf, Seq("cu"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n_edges"), sum(col("w")).as("total_w"),
        sum(col("cu") * 1000003L + col("cv") * 97L + col("w")).as("edge_digest"))
      .join(comp.groupBy(col("c")).agg(count(lit(1)).as("n_nodes")), Seq("c"))
      .select(col("c").as("component"), col("n_nodes"), col("n_edges"),
        col("total_w"), col("edge_digest"), lit(converged).as("converged"))
      .orderBy(col("component"))
  }

  /** RANDOM-WALK SAMPLING (node2vec/DeepWalk corpus generation) — one
    * 4-step walk per node of the repeat co-purchase graph, the sequence
    * corpus an embedding trainer feeds to skip-gram. "Random" is
    * HASH-SEEDED AND DETERMINISTIC (the dataset-pipeline requirement:
    * re-running the sampler must reproduce the corpus): at step t the
    * walk at node v (started from s) moves to v's neighbor of rank
    * (s·31 + t·17 + v) mod deg(v), neighbors ranked by id. Emits the
    * full (start, step, node) path relation, steps 0–4.
    *
    * Scale: each step is one |walks| ⋈ |E| equi-join on the current
    * node (walk side broadcasts under AQE); no state beyond the walk
    * frontier, the [[graphLabelProp]] bounded-round discipline. */
  def graphRwSample(s: SparkSession, dir: String): DataFrame = {
    val pairs = repeatEdges(s, dir)
    val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionAll(pairs.select(col("id2").as("src"), col("id1").as("dst")))
    val ranked = edges
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
    var walks = edges.select(col("src").as("start")).distinct()
      .withColumn("node", col("start"))
      .withColumn("step", lit(0))
    var out = walks
    for (t <- 1 to 4) {
      walks = walks.select(col("start"), col("node").as("src"))
        .join(ranked, Seq("src"))
        .filter(col("rank") ===
          pmod(col("start") * 31 + lit(t) * 17 + col("src"), col("deg")))
        .select(col("start"), col("dst").as("node"), lit(t).as("step"))
      out = out.unionByName(walks)
    }
    out.select(col("start"), col("step"), col("node"))
      .orderBy(col("start"), col("step"))
  }

  /** The repeat-co-purchase pair relation `(id1 < id2, ≥ 2 shared
    * orders)` — staged once per (JVM, sf) and shared by
    * [[graphComponents]] and [[graphKcore]]. */
  /** Repeat co-purchase pairs (id1 < id2, ≥ 2 shared orders), the
    * co-purchase COUNT kept as `w` (r12: [[graphMst]] weights the
    * backbone by it; set consumers just never select it). */
  private def repeatEdges(s: SparkSession, dir: String): DataFrame =
    Ext.stage("cc_edges", s, dir)({
      val op = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      op.as("a").join(op.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("id1"), col("b.l_partkey").as("id2"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
    })

  /** K-CORE DECOMPOSITION (k = 2, bounded peel) over the repeat
    * co-purchase graph — the density filter a graph pipeline runs
    * before community detection or embedding training: iteratively
    * peel every node with fewer than k surviving neighbors until the
    * set stabilizes. The operator is explicitly the BOUNDED form —
    * at most 8 peel rounds plus a `converged` flag (round-8 size ==
    * round-7 size; peeling is monotone, so equality means fixpoint) —
    * which makes it deterministic in BOTH engines regardless of
    * whether the corpus converges, and lets the oracle replay it as
    * 8 unrolled degree-filter CTEs (the [[graphPagerank]] pattern).
    * Measured: all three SFs reach their true 2-core well inside the
    * bound (sf0.1 peels 5922 → 3 nodes — the minimal triangle core —
    * in five rounds).
    *
    * Scale: each round is the |edges| relation probed by TWO broadcast
    * semi-joins of the |surviving-nodes| set plus one count shuffle —
    * nodes are orders of magnitude fewer than the corpus (the BFS
    * precedent); `localCheckpoint` per round truncates lineage
    * (NOTES: never persist per iteration). At extreme node counts the
    * broadcast hint comes off and the joins key on the staged edges'
    * own bucketing. */
  def graphKcore(s: SparkSession, dir: String): DataFrame = {
    val k = 2
    val rounds = 8
    val pairs = repeatEdges(s, dir)
    val e = pairs.select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst")))
    var cur = e.select(col("src").as("node")).distinct().localCheckpoint()
    var prev = cur
    for (_ <- 1 to rounds) {
      prev = cur
      cur = e
        .join(broadcast(prev.select(col("node").as("src"))), Seq("src"))
        .join(broadcast(prev.select(col("node").as("dst"))), Seq("dst"))
        .groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("src").as("node"))
        .localCheckpoint()
    }
    def within(r: DataFrame): DataFrame = e
      .join(broadcast(r.select(col("node").as("src"))), Seq("src"))
      .join(broadcast(r.select(col("node").as("dst"))), Seq("dst"))
    val e8 = within(cur)
    val deg = e8.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
    // fixpoint test folded in-plan (A9): two 1-row EDGE counts (the
    // oracle's edge-round formulation — E_i = E ∩ R_i², so edge-count
    // equality is the same monotone-fixpoint test), no collect
    val conv = e8.agg(count(lit(1)).as("n8"))
      .crossJoin(within(prev).agg(count(lit(1)).as("n7")))
      .select((col("n8") === col("n7")).as("converged"))
    deg.select(col("src").as("part_key"), col("core_deg"))
      .crossJoin(broadcast(conv))
      .orderBy(col("part_key"))
  }

  /** JOIN-KEY SKEW diagnostic — the pre-flight a 100 TB pipeline runs
    * on a join key BEFORE choosing a strategy (plain shuffle vs salting
    * vs AQE skew-split): per-key group sizes collapsed to a COUNT
    * HISTOGRAM (size → how many keys have it), from which the report
    * reads key count, row count, max group, discrete p50/p99 group
    * sizes, and the heaviest key's ppm share of all rows. All integer
    * selections over cumulative histogram counts (`ck ≥ ⌈p·n⌉ ⟺
    * 100·ck ≥ 99·n` for integer ck), zero tolerance.
    *
    * Scale shape: one count shuffle on the key, then a second |keys| →
    * |distinct sizes| collapse; the global cumulative window runs over
    * the HISTOGRAM (bounded by the number of distinct group sizes —
    * hundreds), never over keys or rows. Totals ride the A9
    * driver-scalar pattern. */
  /** Pearson CORRELATION between value and hour-of-day per event type —
    * by the exact-moments-then-combine pattern: the five sufficient
    * statistics (Σx, Σy, Σxy, Σx², Σy² over floor-cents × hour) fold as
    * EXACT integers in any order, and the correlation is ONE fixed
    * expression over their double casts (every step correctly rounded,
    * no order-dependent accumulation — `corr()` built-ins stream float
    * partials and cannot be hash-gated cross-engine). The moments ship
    * alongside, so downstream can re-derive slope/intercept exactly.
    *
    * Scale: one map-side-combined rollup to |types| rows. */
  def profileCorrelation(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("x"),
        expr("ts_us % 86400000000 div 3600000000").as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(col("x") * col("y")).as("sum_xy"),
        sum(col("x") * col("x")).as("sum_x2"),
        sum(col("y") * col("y")).as("sum_y2"))
      .withColumn("corr_xy",
        (col("n").cast("double") * col("sum_xy") -
          col("sum_x").cast("double") * col("sum_y")) /
          sqrt((col("n").cast("double") * col("sum_x2") -
            col("sum_x").cast("double") * col("sum_x")) *
            (col("n").cast("double") * col("sum_y2") -
              col("sum_y").cast("double") * col("sum_y"))))
      .orderBy(col("event_type"))

  /** BENFORD first-digit audit on the monetary column — the classic
    * fabricated-data / unit-mixup tripwire: leading-digit frequencies of
    * positive floor-cents amounts vs Benford's log₁₀(1+1/d) expectation
    * (shipped as literal ppm constants — both engines compare INTEGERS;
    * no transcendental is evaluated anywhere). `delta_ppm` is the
    * signed gap an alert would threshold on.
    *
    * Scale: one scan-local digit projection + a 9-row rollup; the total
    * rides a window over those 9 rows. */
  def profileBenford(s: SparkSession, dir: String): DataFrame = {
    val expected = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L)
    import s.implicits._
    val expDf = expected.zipWithIndex
      .map { case (ppm, i) => (i + 1L, ppm) }.toDF("digit", "exp_ppm")
    events(s, dir)
      .select(floor(col("value") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      .withColumn("obs_ppm",
        expr("n * 1000000 div sum(n) OVER ()"))
      .join(broadcast(expDf), Seq("digit"))
      .withColumn("delta_ppm", col("obs_ppm") - col("exp_ppm"))
      .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
        col("delta_ppm"))
      .orderBy(col("digit"))
  }

  def profileSkew(s: SparkSession, dir: String): DataFrame = {
    val counts = events(s, dir).groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val hist = counts.groupBy(col("c")).agg(count(lit(1)).as("nk"))
    val tot = hist.agg(
      sum(col("nk")), sum(col("c") * col("nk")), max(col("c"))).head()
    // empty slice: the oracle's grand aggregate emits ONE all-NULL row
    // (and the ppm division below would NPE on the null longs) — pin the
    // same degenerate row instead of diverging/throwing (ADVICE r8)
    if (tot.isNullAt(0)) {
      val nul = lit(null).cast("long")
      return hist.limit(0).agg(count(lit(1))).select(
        nul.as("n_keys"), nul.as("n_rows"), nul.as("max_size"),
        nul.as("p50_size"), nul.as("p99_size"), nul.as("top1_share_ppm"))
    }
    val (nKeys, nRows, maxC) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    val cum = hist.withColumn("ck",
      sum(col("nk")).over(Window.orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.agg(
        min(when(col("ck") * 2 >= nKeys, col("c"))).as("p50_size"),
        min(when(col("ck") * 100 >= nKeys * 99, col("c"))).as("p99_size"))
      .select(lit(nKeys).as("n_keys"), lit(nRows).as("n_rows"),
        lit(maxC).as("max_size"), col("p50_size"), col("p99_size"),
        lit(maxC * 1000000L / nRows).as("top1_share_ppm"))
  }

  /** EXACT JOIN-SIZE pre-flight — |lineitem ⋈ orders| computed WITHOUT
    * running the join: Σₖ cntA(k)·cntB(k) over the two per-key count
    * tables (plus the matched-key count and the heaviest key's output
    * contribution — the row that tells you whether the real join needs
    * the [[profileSkew]] salting treatment). The count tables are each
    * one map-side-combined shuffle of a single key column; their join
    * is |keys|-sized with the smaller side AQE-broadcastable — the
    * full join's output is NEVER materialized. All integers. */
  def profileJoinCard(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("ca"))
    val b = t(s, dir, "orders")
      .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cb"))
    a.join(b, Seq("k"))
      .agg(count(lit(1)).as("matched_keys"),
        sum(col("ca") * col("cb")).as("join_rows"),
        max(col("ca") * col("cb")).as("max_key_rows"))
  }

  // ===== physical layout =====

  /** Morton/Z-order bit-spreading fragment for a 10-bit non-negative
    * integer expression — shifts written as multiplication and masks in
    * decimal so the IDENTICAL text parses in Spark SQL and DuckDB (the
    * oracle builder composes the same fragment; the two engines cannot
    * drift on the interleave). Standard magic-number spreading:
    * v=(v|v·2⁸)&0x00FF00FF; &0x0F0F0F0F; &0x33333333; &0x55555555. */
  def spreadBits10(v: String): String = {
    val a = s"((($v) | (($v) * 256)) & 16711935)"
    val b = s"((($a) | (($a) * 16)) & 252645135)"
    val c = s"((($b) | (($b) * 4)) & 858993459)"
    s"((($c) | (($c) * 2)) & 1431655765)"
  }

  /** Z-ORDER (Morton) LAYOUT map — each (l_partkey, l_suppkey) pair
    * scaled onto a 1024×1024 grid (pure integer arithmetic off four
    * driver scalars, the A9 pattern) and bit-interleaved into a Morton
    * code; the result is the 64-bucket `zbucket → (count, pk range, sk
    * range)` map that PROVES the locality property: consecutive z-ranges
    * cover small tiles in BOTH dimensions at once.
    *
    * This is the multi-dimensional clustering step a 100 TB table
    * layout runs before landing parquet: `repartitionByRange(zval) +
    * sortWithinPartitions(zval)` makes every file's min/max footer
    * stats NARROW on every interleaved column simultaneously, so scans
    * filtered on ANY of the dimensions prune files — where a plain sort
    * on one key prunes only that key's predicates. The write itself is
    * exercised (and the per-partition span claim asserted against a
    * single-key sort) in `ZorderSpec`; the registered query pins the
    * interleave arithmetic value-exactly against DuckDB. Scale shape:
    * one scan + one 64-row aggregate; the layout write is the same one
    * range-shuffle any sorted landing pays. */
  def layoutZorder(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
    val b = li.agg(
      min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val (pmin, pmax) = (b.getLong(0), b.getLong(1))
    val (smin, smax) = (b.getLong(2), b.getLong(3))
    zorderCoded(li, pmin, pmax, smin, smax)
      .withColumn("zbucket", expr("zval div 16384"))
      .groupBy(col("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"),
        min(col("l_suppkey")).as("sk_min"), max(col("l_suppkey")).as("sk_max"))
      .orderBy(col("zbucket"))
  }

  /** The shared coding step of [[layoutZorder]] (also driven directly by
    * `ZorderSpec`'s physical-layout assertion): grid-scale both keys to
    * 10 bits and interleave. */
  private[queries] def zorderCoded(
      li: DataFrame, pmin: Long, pmax: Long, smin: Long, smax: Long): DataFrame =
    li.withColumn("sx",
        expr(s"((l_partkey - ${pmin}L) * 1024) div ${pmax - pmin + 1}L"))
      .withColumn("sy",
        expr(s"((l_suppkey - ${smin}L) * 1024) div ${smax - smin + 1}L"))
      .withColumn("zval",
        expr(s"(${spreadBits10("sx")} | (${spreadBits10("sy")} * 2))"))

  // ===== time series =====

  /** Fixed-grid resampling with LOCF fill: every user × 6-hour cell gets
    * the latest event `value` at or before the cell's end. Implemented as
    * the UNION + single-window forward-fill — grid rows and events merge
    * into one per-user time-sorted stream and `last(value, ignoreNulls)`
    * fills each grid row — deliberately NOT a per-cell as-of join: one
    * exchange+sort over events ∪ grid replaces |grid| point lookups, the
    * shape that survives 100 TB. Tie order (ts, is_grid, event_id) is
    * total, so same-instant events resolve deterministically; the carried
    * value is a stored double, never recomputed. */
  /** Binary-decay EWMA (α = ½, 16-tap truncation) — the time-series
    * smoother, made HASH-EXACT by construction: values quantize to
    * floor-cents, the frame weight for position i (oldest-first) is the
    * INTEGER 2ⁱ, and the estimate ships as an exact (num, den) pair —
    * num = Σ xᵢ·2ⁱ over the trailing ≤16-row frame, den = 2ⁿ − 1 — plus
    * their IEEE quotient (one correctly-rounded division, no
    * order-dependent float accumulation anywhere). A float-α EWMA is a
    * sequential recurrence no SQL mirror reproduces; the binary-weight
    * truncated form is the version an exact gate CAN pin, and at
    * α = ½ the 16-tap truncation error is ≤ 2⁻¹⁶ of the signal.
    *
    * Scale: one per-user window (frames are 16-row bounded), weights
    * fold scan-local inside the frame array — nothing beyond the one
    * corpus shuffle every per-user window pays. */
  def tsEwma(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-15, 0)
    events(s, dir)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      .withColumn("frame", collect_list(col("cents")).over(w))
      .select(col("user_id"), col("ts_us"), col("event_id"), col("cents"),
        expr("""aggregate(transform(frame, (x, i) -> x * shiftleft(1L, i)),
                0L, (a, b) -> a + b)""").as("num"),
        expr("shiftleft(1L, size(frame)) - 1L").as("den"))
      .withColumn("ewma", col("num").cast("double") / col("den"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  def tsResampleGrid(s: SparkSession, dir: String): DataFrame = {
    val cellUs = 21600000000L // 6 h
    val ev = events(s, dir)
      .select(col("user_id"), col("ts_us"), col("value"), col("event_id"))
    val bounds = ev.agg(expr(s"min(ts_us) div $cellUs").as("c0"),
      expr(s"max(ts_us) div $cellUs").as("c1"))
    val grid = ev.select(col("user_id")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(sequence(col("c0"), col("c1"))).as("cell_idx"))
      .select(col("user_id"),
        ((col("cell_idx") + 1) * cellUs - 1).as("ts_us"),
        lit(null).cast("double").as("value"),
        lit(1).as("is_grid"), lit(null).cast("long").as("event_id"))
    val unioned = ev.withColumn("is_grid", lit(0))
      .select(col("user_id"), col("ts_us"), col("value"), col("is_grid"), col("event_id"))
      .unionByName(grid)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_grid"), coalesce(col("event_id"), lit(-1L)))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("locf_value", last(col("value"), ignoreNulls = true).over(w))
      .filter(col("is_grid") === 1)
      .select(col("user_id"), expr(s"ts_us div $cellUs").as("cell_idx"),
        col("ts_us").as("sample_us"), col("locf_value"))
      .orderBy(col("user_id"), col("cell_idx"))
  }

  /** Linear-interpolation repair of missing readings — [[tsResampleGrid]]
    * fills a GRID by carry-forward; this repairs the series itself:
    * deterministically nulled values (`event_id % 7 == 0`) are
    * reconstructed as `prev + (next − prev)·(t − t_prev)/(t_next − t_prev)`
    * from the nearest non-null neighbors (edge rows degrade to the one
    * existing neighbor). One exchange+sort serves all four neighbor
    * windows — Catalyst plans a single Window over the per-user time
    * order. Hash-exact UNROUNDED: the formula is +,−,×,÷ on doubles and
    * exactly-representable µs longs, the same IEEE ops in the same order
    * in both engines (the geo_radius_join lesson applied from the
    * start); a 0/0 at duplicate timestamps would yield NaN identically
    * on both sides, and the gate compares NaN as equal. */
  def tsInterpolate(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("ts_us"), col("event_id"),
      when(col("event_id") % 7 === 0, lit(null).cast("double"))
        .otherwise(col("value")).as("v"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ev
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("pt", last(when(col("v").isNotNull, col("ts_us")),
        ignoreNulls = true).over(back))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
      .withColumn("nt", first(when(col("v").isNotNull, col("ts_us")),
        ignoreNulls = true).over(fwd))
      .filter(col("v").isNull)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("ts_us") - col("pt")).cast("double") /
              (col("nt") - col("pt")).cast("double")))
          .as("v_interp"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  /** CATEGORICAL CONTINGENCY / DRIFT AUDIT — the lang × source
    * association table with integer-exact over/under-representation per
    * cell: observed count, marginals, expected count and lift both as
    * parts-per-million (`e_ppm = (rt·ct·10⁶) div N`, `lift_ppm =
    * (o·N·10⁶) div (rt·ct)`, 10⁶ = independence) — the audit that
    * catches a crawler suddenly feeding one language from one domain,
    * without the float chi-squared whose accumulation order the hash
    * gate can't pin. BIGINT headroom: the `rt·ct·10⁶` product bounds
    * exact ppm arithmetic to N ≲ 3·10⁹ rows per audited slice; at
    * 100 TB the audit runs per partition-slice anyway (drift is a
    * per-ingest question), or counts right-shift by a common 2^k first.
    *
    * Scale: three tiny aggregates (cells + two marginals), broadcast
    * rejoins, |langs × sources| output rows. */
  def profileContingency(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("lang"), col("source"))
    val n = d.count()
    val cells = d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o"))
    val rt = d.groupBy(col("lang")).agg(count(lit(1)).as("rt"))
    val ct = d.groupBy(col("source")).agg(count(lit(1)).as("ct"))
    cells
      .join(broadcast(rt), Seq("lang"))
      .join(broadcast(ct), Seq("source"))
      .withColumn("e_ppm", expr(s"(rt * ct * 1000000) div $n"))
      .withColumn("lift_ppm", expr(s"(o * $n * 1000000) div (rt * ct)"))
      .select(col("source"), col("lang"), col("o"), col("rt"), col("ct"),
        col("e_ppm"), col("lift_ppm"))
      .orderBy(col("source"), col("lang"))
  }

  /** RIGHT-TO-BE-FORGOTTEN DELETE CASCADE — the GDPR erasure pipeline: a
    * forget-set of customers (deterministic here: `c_custkey % 97 = 0`,
    * standing in for the user-supplied subject list) cascades through
    * the foreign-key chain customer → orders → lineitem, emitting a
    * per-table erasure audit: rows before, rows deleted, rows after,
    * and an order-free `bit_xor` digest of the SURVIVING keys (60-bit
    * md5 prefix) — so the gate pins exactly which rows survived, not
    * just how many (a cascade that deleted the wrong orders with the
    * right count would still be caught).
    *
    * Scale: the forget-set is subject-sized (broadcast); each cascade
    * level is one semi/anti join keyed by the FK — AQE broadcasts the
    * deleted-key sets when they are small (the production case), and a
    * base bucketed on the key makes repeated erasure runs co-located.
    * The audit aggregates are one pass per table; nothing corpus-sized
    * is collected. */
  def mergeDeleteCascade(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    val forget = c.filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey"))
    val delOrders = o.join(broadcast(forget),
      col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"))
    def audit(tbl: String, all: DataFrame, joinKey: Column,
        deleted: DataFrame, delKey: Column, digest: Column): DataFrame = {
      val survivors = all.join(deleted, joinKey === delKey, "left_anti")
        .withColumn("h",
          conv(substring(md5(digest.cast("string")), 1, 15), 16, 10)
            .cast("long"))
      // ONE pass over the anti-join: count + digest in the same
      // aggregate (a separate survivors.count() would re-execute the
      // join — on the 100 TB lineitem this halves the cascade's scans);
      // only the pre-delete count touches the base again, column-pruned
      val nAll = all.count()
      val r = survivors
        .agg(count(lit(1)).as("n_after"), expr("bit_xor(h)").as("x"))
        .head()
      val nAfter = r.getLong(0)
      val xor = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
      import s.implicits._
      Seq((tbl, nAll, nAll - nAfter, nAfter, Option(xor).map(_.longValue())))
        .toDF("tbl", "n_before", "n_deleted", "n_after", "survivor_xor")
    }
    audit("customer", c, col("c_custkey"), forget.select(
        col("c_custkey").as("_del")), col("_del"), col("c_custkey"))
      .unionByName(audit("orders", o, col("o_custkey"),
        forget.select(col("c_custkey").as("_del")), col("_del"),
        col("o_orderkey")))
      .unionByName(audit("lineitem", l, col("l_orderkey"),
        delOrders, col("o_orderkey"),
        concat_ws("#", col("l_orderkey"), col("l_linenumber"))))
      .orderBy(col("tbl"))
  }

  /** RFM SEGMENTATION — the classic warehouse customer segmentation:
    * per user, Recency (days since last purchase, exact integer
    * `µs div 86400e6` against the corpus max), Frequency (purchase
    * count) and Monetary (floor-cents, so the sum is an exact integer
    * fold — never an order-dependent double accumulation), each scored
    * into FIXED bands (5 = best), rolled up per (r, f, m) segment.
    * Fixed-band scoring is deliberate: quintile scoring needs a global
    * ntile window (single-partition at corpus scale); bands are
    * scan-local after the one per-user shuffle, and are what a
    * production RFM table uses anyway (stable meaning across runs).
    *
    * Scale: one filter+groupBy shuffle keyed by user (partial aggs
    * collapse the purchase stream map-side), the corpus-max timestamp is
    * the A9 one-row driver scalar, and the segment rollup is ≤ 125
    * groups. */
  /** SEQUENCE-PATTERN detection via regex over the ordered event-type
    * string — the MATCH_RECOGNIZE-shaped operator the funnel/seq-support
    * family approximates with joins: each user's history collapses to
    * one character string (type initials are all distinct here: c, e,
    * p, s, v) in exact (ts, event_id) order, and patterns are plain
    * regexes — `v[cs]*p` = a view-to-purchase run with no error and no
    * second view inside, counted leftmost-non-overlapping; `ep` = an
    * error IMMEDIATELY followed by a purchase. Both engines scan
    * leftmost-non-overlapping (java.util.regex here, RE2 in the
    * oracle), and the pattern is backtracking-unambiguous, so the
    * counts are exact integers.
    *
    * Scale: ONE user-keyed shuffle; the per-user string is bounded by
    * per-user event density (constant as the corpus grows in users —
    * the same contract every per-user collect in this file rides);
    * the regex scan is scan-local after the agg. */
  def eventsPatternRegex(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("user_id"), struct(col("ts_us"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ini")).as("e"))
      .groupBy(col("user_id"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(e)), x -> x.ini)"), "")
        .as("seq"))
      .select(col("user_id"),
        length(col("seq")).cast("long").as("seq_len"),
        size(expr("regexp_extract_all(seq, 'v[cs]*p', 0)")).cast("long")
          .as("n_vp_runs"),
        col("seq").rlike("ep").as("err_then_purchase"))
      .orderBy(col("user_id"))

  /** JOURNEY SIGNATURES — in what ORDER do users first touch each
    * event type (the "journey map" rollup product analytics builds from
    * first-touch timestamps): per user, the distinct types sorted by
    * first occurrence collapse to one initials string ("vcpse" = view
    * first, signup last), then signatures roll up to population counts.
    * Unlike [[eventsPatternRegex]]'s full sequence (unique per user),
    * signatures live in a ≤ Σₖ P(5,k) space, so the counts are dense
    * and the rollup is readable.
    *
    * Scale: first-touch is ONE (user, type)-keyed aggregate (map-side
    * combined), the signature fold is a per-user collect of ≤ |types|
    * structs, and the rollup is signature-keyed (≤ 325 groups). */
  def eventsJourneySignature(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"),
        substring(col("event_type"), 1, 1).as("ini"))
      .agg(min(col("ts_us")).as("first_us"))
      .select(col("user_id"),
        struct(col("first_us"), col("ini")).as("e"))
      .groupBy(col("user_id"))
      .agg(array_join(
        expr("transform(array_sort(collect_list(e)), x -> x.ini)"), "")
        .as("signature"))
      .groupBy(col("signature"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("signature"))

  def eventsRfm(s: SparkSession, dir: String): DataFrame = {
    val p = events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        floor(col("value") * 100).cast("long").as("cents"))
    // null on a purchase-free slice — the 0L default is inert (p is
    // empty, so the pipeline yields zero segments either way) but a bare
    // getLong would NPE the whole run
    val nowRow = p.agg(max(col("ts_us"))).head()
    val nowUs = if (nowRow.isNullAt(0)) 0L else nowRow.getLong(0)
    def band(c: Column, b5: Long, b4: Long, b3: Long, b2: Long,
        asc: Boolean): Column =
      if (asc) when(c <= b5, 5L).when(c <= b4, 4L).when(c <= b3, 3L)
        .when(c <= b2, 2L).otherwise(1L)
      else when(c >= b5, 5L).when(c >= b4, 4L).when(c >= b3, 3L)
        .when(c >= b2, 2L).otherwise(1L)
    p.groupBy(col("user_id"))
      .agg(max(col("ts_us")).as("last_us"), count(lit(1)).as("freq"),
        sum(col("cents")).as("cents"))
      .withColumn("rec_days", expr(s"($nowUs - last_us) div $DayUs"))
      .withColumn("r_score", band(col("rec_days"), 2, 5, 10, 20, asc = true))
      .withColumn("f_score", band(col("freq"), 20, 15, 10, 5, asc = false))
      .withColumn("m_score", band(col("cents"), 90000, 70000, 50000, 30000,
        asc = false))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("segment_cents"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** DATA-QUALITY EXPECTATION AUDIT (the dbt-test / Great-Expectations
    * contract surface): a rule table — not-null, uniqueness, accepted
    * values, accepted range, referential integrity — evaluated over
    * `orders`/`lineitem` in ONE pass per table, emitting per-rule
    * checked/violation counts and a pass flag. Thresholds are set so the
    * synthetic corpus genuinely violates some rules (status `P`,
    * quantity > 45, discount > 0.08) — the audit is exercised, not
    * vacuous.
    *
    * Scale: all per-table rules fold in a single aggregate over a
    * column-pruned scan (one row out per table, exploded into rule
    * rows); uniqueness rides the same aggregate's single countDistinct;
    * referential integrity is the one anti-join — at production scale
    * AQE broadcasts the orders key set when the dim side is small, and a
    * bucketed layout makes it co-located. Nothing else shuffles. */
  def profileExpectations(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    def rule(name: String, table: String, checked: Column, viol: Column) =
      struct(lit(name).as("rule"), lit(table).as("tbl"),
        checked.as("n_checked"), viol.as("n_violations"))
    val oRules = o.agg(
        count(lit(1)).as("n"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nulls"),
        countDistinct(col("o_orderkey")).as("dk"),
        sum(when(!col("o_orderstatus").isin("O", "F"), 1L).otherwise(0L))
          .as("badstat"))
      .select(explode(array(
        rule("not_null:o_custkey", "orders", col("n"), col("nulls")),
        rule("unique:o_orderkey", "orders", col("n"), col("n") - col("dk")),
        rule("accepted_values:o_orderstatus[O,F]", "orders", col("n"),
          col("badstat")))).as("r"))
    val lRules = l.agg(
        count(lit(1)).as("n"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 45, 1L)
          .otherwise(0L)).as("badqty"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.08, 1L)
          .otherwise(0L)).as("baddisc"))
      .select(explode(array(
        rule("range:l_quantity[1,45]", "lineitem", col("n"), col("badqty")),
        rule("range:l_discount[0,0.08]", "lineitem", col("n"),
          col("baddisc")))).as("r"))
    val nL = l.count()
    val refViol = l.select(col("l_orderkey"))
      .join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
      .select(rule("ref:l_orderkey->o_orderkey", "lineitem", lit(nL),
        col("v")).as("r"))
    oRules.unionByName(lRules).unionByName(refViol)
      .select(col("r.rule").as("rule"), col("r.tbl").as("tbl"),
        col("r.n_checked").as("n_checked"),
        col("r.n_violations").as("n_violations"))
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy(col("rule"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "merge_upsert" -> mergeUpsert _,
    "merge_cdc" -> mergeCdc _,
    "diff_snapshots" -> diffSnapshots _,
    "win_pareto_abc" -> winParetoAbc _,
    "scd2_history" -> scd2History _,
    "events_funnel" -> eventsFunnel _,
    "events_retention" -> eventsRetention _,
    "agg_mode" -> aggMode _,
    "agg_percentile_disc" -> aggPercentileDisc _,
    "agg_winsorize" -> aggWinsorize _,
    "layout_zorder" -> layoutZorder _,
    "profile_skew" -> profileSkew _,
    "profile_join_card" -> profileJoinCard _,
    "scd2_asof" -> scd2Asof _,
    "win_rolling_wau" -> winRollingWau _,
    "win_streak" -> winStreak _,
    "agg_robust_outliers" -> aggRobustOutliers _,
    "events_transitions" -> eventsTransitions _,
    "events_attribution" -> eventsAttribution _,
    "win_clamped_balance" -> winClampedBalance _,
    "win_drawdown" -> winDrawdown _,
    "events_ab_lift" -> eventsAbLift _,
    "profile_drift" -> profileDrift _,
    "ts_ohlc" -> tsOhlc _,
    "ts_autocorr" -> tsAutocorr _,
    "ts_lttb" -> tsLttb _,
    "ts_mad_anomaly" -> tsMadAnomaly _,
    "win_rolling_regression" -> winRollingRegression _,
    "win_cusum" -> winCusum _,
    "graph_edge_jaccard" -> graphEdgeJaccard _,
    "graph_label_prop" -> graphLabelProp _,
    "graph_rw_sample" -> graphRwSample _,
    "graph_mst" -> graphMst _,
    "ts_seasonal_naive" -> tsSeasonalNaive _,
    "ts_decompose" -> tsDecompose _,
    "mix_quantile_normalize" -> mixQuantileNormalize _,
    "agg_seasonality" -> aggSeasonality _,
    "profile_columns" -> profileColumns _,
    "agg_incremental_merge" -> aggIncrementalMerge _,
    "profile_histogram" -> profileHistogram _,
    "agg_hll_incremental" -> aggHllIncremental _,
    "graph_pagerank" -> graphPagerank _,
    "graph_kcore" -> graphKcore _,
    "graph_assortativity" -> graphAssortativity _,
    "join_fuzzy_names" -> joinFuzzyNames _,
    "graph_triangles" -> graphTriangles _,
    "ts_resample_grid" -> tsResampleGrid _,
    "ts_ewma" -> tsEwma _,
    "profile_correlation" -> profileCorrelation _,
    "scd2_backfill" -> scd2Backfill _,
    "events_attribution_shapley" -> eventsAttributionShapley _,
    "profile_benford" -> profileBenford _,
    "ts_interpolate" -> tsInterpolate _,
    "events_rfm" -> eventsRfm _,
    "events_pattern_regex" -> eventsPatternRegex _,
    "events_journey_signature" -> eventsJourneySignature _,
    "profile_expectations" -> profileExpectations _,
    "merge_delete_cascade" -> mergeDeleteCascade _,
    "events_anomaly_days" -> eventsAnomalyDays _,
    "profile_contingency" -> profileContingency _,
    "events_lifecycle" -> eventsLifecycle _,
    "events_cohort_ltv" -> eventsCohortLtv _,
    "graph_bfs_levels" -> graphBfsLevels _,
    "graph_components" -> graphComponents _,
    "events_seq_support" -> eventsSeqSupport _,
    "win_interval_union" -> winIntervalUnion _,
    "events_concurrency_peak" -> eventsConcurrencyPeak _,
    "events_funnel_windowed" -> eventsFunnelWindowed _,
    "win_mau_stickiness" -> winMauStickiness _,
    "events_time_to_convert" -> eventsTimeToConvert _,
  )
}
