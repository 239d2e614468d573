package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming re-expressions of the batch sessionization kit
  * (`core.Sessionize`) — the reference is batch-only (SURVEY.md §2.9), so
  * this is the forward-looking surface: the same gaps-and-islands semantics
  * as an incremental, watermarked, stateful stream.
  *
  * Scale design: state is one small record per active key; watermark +
  * event-time timeout bound state size (no unbounded session buffers —
  * aggregates are folded incrementally, events are never retained).
  *
  * Every keyed stateful operator is a PURE step, so its watermark, state
  * and timer contract is testable without a streaming harness:
  *  - in: `(key, rows, state, watermarkUs)` — `state` is the operator's
  *    zero for a key with none;
  *  - out: `(emitted rows, Some(next state) | None = remove, timer in ms)`.
  * A call with no rows is a timer call; an input call always carries
  * rows. One driver runs the steps on each stateful API —
  * [[viaGroupState]] (flatMapGroupsWithState, event-time timeout) and
  * [[viaProcessor]] (transformWithState, `ValueState` + event-time
  * timers) — so the two APIs cannot diverge.
  *
  * Late rows: Spark does not drop rows already behind the watermark
  * before flatMapGroupsWithState, so a buffering step drops them itself
  * at entry ([[gate]]), on both APIs. A late row consumed in ARRIVAL
  * order could emit what the batch oracle's time order never would;
  * dropping pins the contract windowed aggregations have — an emitted
  * row is final, and late data is discarded, never reordered.
  */
object StreamOps {

  /** One step of a keyed state machine (the contract above). */
  private[graft] type Step[I, S, O] =
    (Long, Seq[I], S, Long) => (Seq[O], Option[S], Option[Long])

  /** An input row of a keyed stateful operator: keyed by `user_id`, with
    * an event-time timestamp column `t` for the watermark. */
  trait Keyed { def user_id: Long }

  /** One operator's fixed parts: its state's name in the store, the state
    * a new key starts from, and its state and output encoders, built once
    * per JVM and handed to the drivers. */
  private final case class Machine[S, O](
      name: String, zero: S, state: Encoder[S], out: Encoder[O])

  private object Machine {
    def apply[S <: Product: TypeTag, O <: Product: TypeTag](
        name: String, zero: S): Machine[S, O] =
      Machine(name, zero, Encoders.product[S], Encoders.product[O])
  }

  private val KeyEncoder = Encoders.scalaLong

  /** `step` on flatMapGroupsWithState: the timeout slot holds the timer,
    * and a timed-out call is the step's timer call. */
  private def viaGroupState[I <: Keyed, S, O](
      in: Dataset[I], watermarkDelay: String, m: Machine[S, O])(
      step: Step[I, S, O]): Dataset[O] = {
    val zero = m.zero
    in.withWatermark("t", watermarkDelay)
      .groupByKey(_.user_id)(KeyEncoder)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[I], state: GroupState[S]) =>
          val (out, next, timer) = step(key, rows.toSeq,
            state.getOption.getOrElse(zero), state.getCurrentWatermarkMs() * 1000L)
          next match {
            case Some(st) =>
              state.update(st)
              timer.foreach(state.setTimeoutTimestamp)
            case None => state.remove()
          }
          out.iterator
      }(m.state, m.out)
  }

  /** The one `StatefulProcessor`: `step` over a `ValueState`, input rows
    * and expired timers both routed through it. Timers are not cleared
    * between calls, so a step sees stale timers as idle timer calls. */
  private final class StepProcessor[I, S, O](m: Machine[S, O], step: Step[I, S, O])
      extends StatefulProcessor[Long, I, O] {

    @transient private var state: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S](m.name, m.state, TTLConfig.NONE)

    private def run(key: Long, rows: Seq[I], tv: TimerValues): Iterator[O] = {
      val (out, next, timer) = step(key, rows,
        if (state.exists()) state.get() else m.zero, tv.getCurrentWatermarkInMs() * 1000L)
      next match {
        case Some(st) =>
          state.update(st)
          timer.foreach(ms => getHandle.registerTimer(ms))
        case None => state.clear()
      }
      out.iterator
    }

    override def handleInputRows(
        key: Long, rows: Iterator[I], tv: TimerValues): Iterator[O] =
      run(key, rows.toSeq, tv)

    override def handleExpiredTimer(
        key: Long, tv: TimerValues, info: ExpiredTimerInfo): Iterator[O] =
      run(key, Nil, tv)
  }

  /** `step` on transformWithState (requires the RocksDB state store
    * provider — see the spec for the session config). */
  private def viaProcessor[I <: Keyed, S, O](
      in: Dataset[I], watermarkDelay: String, m: Machine[S, O])(
      step: Step[I, S, O]): Dataset[O] =
    in.withWatermark("t", watermarkDelay)
      .groupByKey(_.user_id)(KeyEncoder)
      .transformWithState(new StepProcessor(m, step),
        TimeMode.EventTime(), OutputMode.Append())(m.out)

  /** The watermark gate of the buffering steps: the buffered rows plus the
    * fresh ones not already behind the watermark (the late-row rule), split
    * into the rows the watermark has passed — final, sorted by `key` =
    * `(ts_us, id)` — and the rows still pending, with the timer that
    * re-invokes the key once the watermark passes the earliest of them. */
  private def gate[P](buffered: Seq[P], fresh: Seq[P], wmUs: Long)(
      key: P => (Long, Long)): (Seq[P], List[P], Option[Long]) = {
    val (ready, pending) = (buffered ++ fresh.filter(key(_)._1 >= wmUs))
      .partition(key(_)._1 < wmUs)
    (ready.sortBy(key), pending.toList, pending.map(key(_)._1).minOption
      .map(us => math.max(wmUs / 1000L + 1L, us / 1000L + 1L)))
  }

  /** One keyed event on the stream; `t` must be an event-time timestamp
    * column for watermarking, `ts_us` its exact integer form. */
  case class KeyedEvent(user_id: Long, t: java.sql.Timestamp, ts_us: Long, value: Double)
    extends Keyed

  /** Completed (or force-flushed) session. */
  case class Session(
      user_id: Long,
      session_id: Long,
      n_events: Long,
      start_us: Long,
      end_us: Long,
      value_sum: Double)

  /** Per-key incremental session state (one record per active key). */
  case class SessState(
      sessionId: Long, n: Long, startUs: Long, lastUs: Long, sum: Double)

  private lazy val Sessions =
    Machine[SessState, Session]("sess", SessState(0L, 0L, 0L, 0L, 0.0))

  /** The session state machine, the only copy of its rules. A timer call
    * closes the open session once its gap has elapsed at the watermark —
    * always so for a GroupState timeout; a stale processor timer from a
    * superseded session finds it not elapsed and keeps the session. */
  private[graft] def sessionStep(
      key: Long, evs: Seq[KeyedEvent], st0: SessState, wmUs: Long,
      gapMicros: Long): (Seq[Session], Option[SessState], Option[Long]) = {
    def emit(st: SessState) =
      Session(key, st.sessionId, st.n, st.startUs, st.lastUs, st.sum)
    // close the open session once the watermark passes its gap. A late-
    // but-in-watermark event can extend a session whose gap already
    // elapsed, putting lastUs+gap at-or-before the watermark — GroupState
    // rejects such timeouts, so clamp to watermark+1 (the session then
    // closes next microbatch).
    def timer(st: SessState) = Some(math.max(
      wmUs / 1000L + 1L, (st.lastUs + gapMicros) / 1000L + 1L))
    // late-but-in-watermark events may precede the stored session's
    // start: within the gap they extend it backwards (min the start)
    def fold(st: SessState, e: KeyedEvent): SessState =
      if (e.ts_us - st.lastUs > gapMicros)
        SessState(st.sessionId + 1, 1L, e.ts_us, e.ts_us, e.value)
      else
        SessState(st.sessionId, st.n + 1, math.min(st.startUs, e.ts_us),
          math.max(st.lastUs, e.ts_us), st.sum + e.value)

    var cur = Some(st0).filter(_.n > 0L)
    if (evs.isEmpty) cur match {
      case Some(st) if wmUs > st.lastUs + gapMicros =>
        (Seq(emit(st)), None, None)
      case Some(st) => (Nil, cur, timer(st))
      case None => (Nil, None, None)
    } else {
      val sorted = evs.sortBy(_.ts_us)
      var closed = List.empty[Session]
      // late-but-in-watermark events BEFORE the stored session's start
      // first try to extend it backwards TRANSITIVELY (descending walk:
      // each event within the gap of the current start joins and moves
      // the start down — an 850 can bridge in through a 950). Only events
      // that fail the chain emit as out-of-band single-event islands
      // (reserved session id 0 — in-order ids are already assigned).
      // Documented deviation: batch gaps-and-islands would renumber, and
      // would merge two gap-close islands into one.
      val (early, tail) = cur match {
        case Some(st) => sorted.partition(_.ts_us < st.startUs)
        case None => (Seq.empty[KeyedEvent], sorted)
      }
      early.reverseIterator.foreach { e =>
        val st = cur.get
        if (st.startUs - e.ts_us <= gapMicros) cur = Some(fold(st, e))
        else closed ::= Session(key, 0L, 1L, e.ts_us, e.ts_us, e.value)
      }
      tail.foreach { e =>
        cur match {
          case None =>
            cur = Some(SessState(1L, 1L, e.ts_us, e.ts_us, e.value))
          case Some(st) =>
            val next = fold(st, e)
            if (next.sessionId != st.sessionId) closed ::= emit(st)
            cur = Some(next)
        }
      }
      (closed.reverse, cur, timer(cur.get))
    }
  }

  /** Streaming sessionization: same semantics as
    * `Sessionize.withSessionId` + per-session rollup — a session closes
    * when `gapMicros` passes with no event (decided by the event-time
    * watermark, so late data within the watermark still extends sessions).
    *
    * Emits each session once, on close (Append mode). State per key is a
    * single [[SessState]] — O(active keys), not O(events).
    *
    * Session-id scope: ids are per-key ordinals that restart at 1 after a
    * timeout clears the key's state (keeping a counter alive forever would
    * make state O(all keys ever seen), defeating watermark expiry), and
    * session id 0 is RESERVED for out-of-band islands — late-but-in-
    * watermark events gap-disjoint from the open session even after
    * transitive backward extension, emitted immediately as single-event
    * sessions (batch gaps-and-islands would renumber, and would merge two
    * gap-close islands). So `(user_id, session_id)` is NOT a unique key:
    * consumers needing one should use `(user_id, start_us)`.
    */
  def sessionize(
      events: Dataset[KeyedEvent],
      gapMicros: Long,
      watermarkDelay: String = "10 minutes"): Dataset[Session] =
    viaGroupState(events, watermarkDelay, Sessions)(sessionStep(_, _, _, _, gapMicros))

  /** [[sessionize]] on the `transformWithState` API (Spark 4's arbitrary
    * stateful processing v2): explicit `ValueState` + event-time timers
    * instead of `GroupState` — state lives in the (RocksDB-backed) store,
    * timers replace the single timeout slot, and state schema can evolve.
    * Same semantics as [[sessionize]]. */
  def sessionizeTws(
      events: Dataset[KeyedEvent],
      gapMicros: Long,
      watermarkDelay: String = "10 minutes"): Dataset[Session] =
    viaProcessor(events, watermarkDelay, Sessions)(sessionStep(_, _, _, _, gapMicros))

  /** One CDC changelog record. `op` ∈ {"u" upsert, "d" delete, "x"
    * sentinel (close marker — no content)}; `(ts_us, event_id)` is the
    * record's VERSION. */
  case class CdcOp(user_id: Long, t: java.sql.Timestamp, ts_us: Long,
      event_id: Long, value: Double, op: String) extends Keyed

  /** Per-key CDC state: the max-version record seen + op count. O(1). */
  case class CdcState(tsUs: Long, eventId: Long, value: Double, op: String,
      n: Long)

  /** Final materialized row for a live (non-deleted) key. */
  case class CdcRow(user_id: Long, last_ts_us: Long, last_event_id: Long,
      last_value: Double, n_ops: Long)

  private lazy val Cdc =
    Machine[CdcState, CdcRow]("cdc", CdcState(0L, 0L, 0.0, "", 0L))

  /** The CDC fold (`n` = 0 is a key with no record yet): a record applies
    * only if strictly newer by `(ts, event_id)`, so any delivery order
    * converges to the max-version record. The close timer arms ONLY on
    * the key's end-of-feed sentinel: a watermark-relative timer armed per
    * batch would emit a key early whenever a later batch still carried
    * its (in-watermark) records, and Append mode cannot retract. A key's
    * records after its sentinel are a feed-contract violation (GroupState
    * drops the armed timeout on that call, so the key stays unemitted
    * rather than emitting twice). */
  private[graft] def cdcStep(
      key: Long, ops: Seq[CdcOp], st0: CdcState, wmUs: Long)
      : (Seq[CdcRow], Option[CdcState], Option[Long]) =
    if (ops.isEmpty) {
      val row = Some(st0).filter(s => s.n > 0L && s.op != "d")
        .map(s => CdcRow(key, s.tsUs, s.eventId, s.value, s.n))
      (row.toSeq, None, None)
    } else {
      val st = ops.filter(_.op != "x").foldLeft(st0) { (s, e) =>
        val newer = s.n == 0L || e.ts_us > s.tsUs ||
          (e.ts_us == s.tsUs && e.event_id > s.eventId)
        if (newer) CdcState(e.ts_us, e.event_id, e.value, e.op, s.n + 1)
        else s.copy(n = s.n + 1)
      }
      val timer = if (ops.exists(_.op == "x")) Some(wmUs / 1000L + 1L) else None
      (Nil, Some(st).filter(_.n > 0L), timer)
    }

  /** STREAMING CDC UPSERT MATERIALIZATION — the streaming complement of
    * the batch `merge_scd1`: consume a keyed changelog and emit, once
    * the watermark passes the feed, each key's last-writer-wins row
    * (deleted keys emit nothing). The fold is ORDER-INDEPENDENT
    * ([[cdcStep]]), so reordered/late-but-in-watermark delivery cannot
    * corrupt the table (property-pinned in the spec). State is one
    * record per live key — never a buffer of the changelog. */
  def cdcStream(
      ops: Dataset[CdcOp],
      watermarkDelay: String = "10 minutes"): Dataset[CdcRow] =
    viaGroupState(ops, watermarkDelay, Cdc)(cdcStep)

  /** Watermarked tumbling-window count/sum — the streaming form of a
    * time-bucketed groupBy (Append mode: a window emits once, when the
    * watermark passes its end). */
  def tumblingCounts(
      events: DataFrame, // needs (t: timestamp, user_id, value)
      windowLen: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("t", watermarkDelay)
      .groupBy(col("user_id"), window(col("t"), windowLen))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("user_id"),
        unix_micros(col("window.start")).as("window_start_us"),
        col("n_events"), col("value_sum"))

  /** Tumbling per-event-type counts — [[tumblingCounts]] keyed on the
    * TYPE dimension instead of the user: the leaderboard feed a
    * sink-side rank turns into "top event types per finalized hour"
    * (see `queries.Ext.streamTopkSink`). Append mode: a window emits
    * exactly once, when the watermark passes its end. */
  def tumblingTypeCounts(
      events: DataFrame, // needs (t: timestamp, event_type)
      windowLen: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("t", watermarkDelay)
      .groupBy(col("event_type"), window(col("t"), windowLen))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"),
        unix_micros(col("window.start")).as("window_start_us"),
        col("n_events"))

  /** Tumbling OHLC candles per event type — the streaming twin of
    * `queries.Warehouse.tsOhlc`: open/close are `min_by`/`max_by` on the
    * (ts_us, event_id) struct — declarative, merge-safe aggregates
    * whose total order (event time, id-disambiguated) matches the batch
    * row-number selection exactly — high/low are plain min/max, and
    * volume folds exact floor-cents. Append mode: each (type, window)
    * candle emits exactly once when the watermark passes the window
    * end. State is one fixed-width row per open (type, window) — no
    * value buffering, unlike a sort-based open/close. */
  def tumblingOhlc(
      events: DataFrame, // needs (t: timestamp, event_type, ts_us, event_id, value)
      windowLen: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("t", watermarkDelay)
      .groupBy(col("event_type"), window(col("t"), windowLen))
      .agg(
        min_by(col("value"), struct(col("ts_us"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts_us"), col("event_id"))).as("close"),
        count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("volume_cents"))
      .select(col("event_type"),
        unix_micros(col("window.start")).as("window_start_us"),
        col("open"), col("high"), col("low"), col("close"),
        col("n"), col("volume_cents"))

  /** Streaming exact dedup: drop rows whose key was already seen, with
    * state expired by the watermark — the incremental twin of the batch
    * `Dedup.exact` pass (at 100 TB of events/day, dedup happens on the
    * stream, not in a nightly batch). */
  def dedupStream(
      events: DataFrame, // needs (t: timestamp) + key cols
      keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("t", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join: pair each left event with right events
    * of the same key within ±`window` — the streaming twin of the batch
    * bucketized range join (`queries.Ext.joinRangeBucketed`). Watermarks
    * on BOTH sides + the time-range join condition let Spark bound the
    * buffered state to the interval, so state is O(events per window),
    * not O(stream).
    *
    * `joinType = "leftOuter"` adds watermark-proven null emission: an
    * unmatched left row emits its null-padded result only once the
    * event-time watermark passes `l_t + window` — the point after which
    * any matching right row would itself be behind the watermark and
    * dropped — so each left row emits exactly once (matched pairs
    * in-batch, outer nulls on eviction), the streaming twin of
    * `joinRangeBucketed`'s `"left"` join. */
  def intervalJoin(
      left: DataFrame, // (l_user, l_t: timestamp, l_id)
      right: DataFrame, // (r_user, r_t: timestamp, r_id)
      window: String,
      watermarkDelay: String = "10 minutes",
      joinType: String = "inner"): DataFrame =
    left.withWatermark("l_t", watermarkDelay)
      .join(
        right.withWatermark("r_t", watermarkDelay),
        expr(s"""l_user = r_user AND
                 r_t BETWEEN l_t - INTERVAL $window AND l_t + INTERVAL $window"""),
        joinType)

  /** Tagged input event for [[asofJoinStream]]: side 0 = build,
    * side 1 = probe; `ref_id` is the caller's row id. */
  case class AsOfEvent(
      user_id: Long, t: java.sql.Timestamp, ts_us: Long, side: Int, ref_id: Long)
    extends Keyed

  /** One as-of match: the latest build at-or-before the probe
    * (−1/−1 when none — left-outer semantics). */
  case class AsOfMatched(
      user_id: Long, probe_id: Long, probe_us: Long, build_id: Long, build_us: Long)

  /** Per-key as-of state: builds sorted ascending by time; probes waiting
    * for the watermark to pass their event time. */
  case class AsOfBuffer(builds: List[(Long, Long)], probes: List[(Long, Long)])

  private lazy val AsOf =
    Machine[AsOfBuffer, AsOfMatched]("asof", AsOfBuffer(Nil, Nil))

  /** One state-machine step of [[asofJoinStream]]: probes pass the
    * [[gate]], builds are kept down to the eviction floor — the latest
    * build at-or-before the watermark (still the potential match for a
    * future probe) plus every build ahead of it. The spec drives
    * watermark advances past an idle key and asserts the build list
    * shrinks to that floor with the timer chain ending there. */
  private[graft] def asofStep(
      key: Long, evs: Seq[AsOfEvent], st0: AsOfBuffer, wmUs: Long)
      : (Seq[AsOfMatched], Option[AsOfBuffer], Option[Long]) = {
    val allBuilds = (st0.builds ++
      evs.filter(_.side == 0).map(e => (e.ts_us, e.ref_id)))
      .sortBy(identity)
    val (ready, pending, nextProbe) = gate(st0.probes,
      evs.filter(_.side == 1).map(e => (e.ts_us, e.ref_id)), wmUs)(identity)
    val out = ready.map { case (pUs, pid) =>
      val m = allBuilds.takeWhile(_._1 <= pUs).lastOption
      AsOfMatched(key, pid, pUs,
        m.map(_._2).getOrElse(-1L), m.map(_._1).getOrElse(-1L))
    }
    // evict: keep the latest build at-or-before the watermark + all after
    val (behind, ahead) = allBuilds.partition(_._1 <= wmUs)
    val kept = behind.lastOption.toList ++ ahead
    if (kept.isEmpty && pending.isEmpty) (out, None, None)
    else {
      // an idle key (no pending probes) with builds still AHEAD of
      // the watermark must get re-invoked as the watermark advances
      // or those builds are never evicted (event-time timeouts are
      // cleared on every invocation, so a key that stops receiving
      // events otherwise keeps its full build list forever). Once
      // only the single behind-watermark build remains — the
      // potential match for a future probe, the documented state
      // floor — no timer: that state is O(1) per key by design.
      val shrink =
        if (ahead.nonEmpty) Some(wmUs / 1000L + 1L) else None
      (out, Some(AsOfBuffer(kept, pending)), nextProbe.orElse(shrink))
    }
  }

  /** STREAM-STREAM AS-OF JOIN — Spark has stream-stream equi/interval
    * joins but no as-of; this is the streaming twin of
    * `plans.AsOfJoin` / `queries.Ext.joinAsof`.
    *
    * Correctness under disorder: a probe at time p is final only once the
    * event-time watermark passes p — any build that could still arrive
    * with time ≤ p would itself be behind the watermark. So probes buffer
    * until `watermark > p`, then emit exactly once with the latest
    * build ≤ p (Append mode).
    *
    * State bound per key: pending probes within the watermark window,
    * plus builds within the window and ONE older build; everything older
    * is evicted each invocation. No timers when nothing is pending. */
  def asofJoinStream(
      probes: DataFrame, // (user_id, t: timestamp, ts_us, ref_id)
      builds: DataFrame, // same shape
      watermarkDelay: String = "10 minutes"): Dataset[AsOfMatched] = {
    val tagged = probes.withColumn("side", lit(1))
      .unionByName(builds.withColumn("side", lit(0)))
      .select(col("user_id"), col("t"), col("ts_us"), col("side"), col("ref_id"))
      .as(Encoders.product[AsOfEvent])
    viaGroupState(tagged, watermarkDelay, AsOf)(asofStep)
  }

  /** Tagged input event for [[funnelStream]]: `kind` 1 = view,
    * 2 = click, 3 = purchase (0 = sentinel, ignored). */
  case class FunnelEvent(
      user_id: Long, t: java.sql.Timestamp, ts_us: Long, event_id: Long, kind: Int)
    extends Keyed

  /** One funnel-stage completion, emitted exactly once as it happens. */
  case class FunnelHit(user_id: Long, stage: Long, ts_us: Long)

  /** Per-key funnel state: events waiting for the watermark to pass
    * their time, plus the machine's progress (stage reached and the
    * strictly-increasing stage timestamps). Progress alone is O(1); the
    * pending buffer is bounded by the watermark window. */
  case class FunnelState(
      pending: List[(Long, Long, Int)], // (ts_us, event_id, kind)
      stage: Int, t1: Long, t2: Long, t3: Long)

  private lazy val Funnel =
    Machine[FunnelState, FunnelHit]("funnel", FunnelState(Nil, 0, -1L, -1L, -1L))

  /** One step of [[funnelStream]]: the events the [[gate]] releases feed
    * the stage machine (first view sets t1, first click with ts > t1 sets
    * t2, first purchase with ts > t2 sets t3 — greedy-on-sorted ≡ the
    * batch funnel's chained conditional minimums, because the first
    * qualifying event in time order IS the minimum). Completed-stage
    * state persists as an O(1) tombstone so a user's later events can
    * never re-emit a stage; with nothing pending that progress record
    * just sits (a real deployment TTLs long-idle users, trading only
    * re-emission safety). */
  private[graft] def funnelStep(
      key: Long, evs: Seq[FunnelEvent], st0: FunnelState, wmUs: Long)
      : (Seq[FunnelHit], Option[FunnelState], Option[Long]) = {
    val (ready, pending, timer) = gate(st0.pending,
      evs.filter(_.kind > 0).map(e => (e.ts_us, e.event_id, e.kind)), wmUs)(
      e => (e._1, e._2))
    var (stage, t1, t2, t3) = (st0.stage, st0.t1, st0.t2, st0.t3)
    val hits = ready.flatMap { case (ts, _, kind) =>
      (stage, kind) match {
        case (0, 1) => stage = 1; t1 = ts; Some(FunnelHit(key, 1L, ts))
        case (1, 2) if ts > t1 => stage = 2; t2 = ts; Some(FunnelHit(key, 2L, ts))
        case (2, 3) if ts > t2 => stage = 3; t3 = ts; Some(FunnelHit(key, 3L, ts))
        case _ => None
      }
    }
    (hits, Some(FunnelState(pending, stage, t1, t2, t3)), timer)
  }

  /** STREAMING FUNNEL — the ordered view→click→purchase stage machine as
    * an incremental stateful stream, emitting each user's stage
    * completions exactly once (Append mode). Event-time correctness
    * under disorder follows the as-of argument: an event is only fed to
    * the machine once the watermark passes its time, so no
    * earlier-but-late event can invalidate an emitted transition. */
  def funnelStream(
      events: Dataset[FunnelEvent],
      watermarkDelay: String = "10 minutes"): Dataset[FunnelHit] =
    viaGroupState(events, watermarkDelay, Funnel)(funnelStep)

  /** [[funnelStream]] on the `transformWithState` API (requires the
    * RocksDB state store provider, like [[sessionizeTws]]). */
  def funnelStreamTws(
      events: Dataset[FunnelEvent],
      watermarkDelay: String = "10 minutes"): Dataset[FunnelHit] =
    viaProcessor(events, watermarkDelay, Funnel)(funnelStep)

  /** One GPS ping on the stream, its geofence membership already folded
    * to a bitmask (bit f = inside fence f) by the scan-local ray cast
    * upstream — the stateful operator never re-touches geometry. */
  case class GeoPing(user_id: Long, t: java.sql.Timestamp, ts_us: Long,
      event_id: Long, mask: Int) extends Keyed

  /** Per-vehicle detector state: pings still inside the watermark
    * window (bounded by rate × delay, NEVER corpus-sized) plus the O(1)
    * last-processed membership mask (`lastMask` = -1 before the first
    * processed ping). */
  case class GeoState(pending: Seq[(Long, Long, Int)],
      lastTs: Long, lastEid: Long, lastMask: Int)

  case class GeoTransition(user_id: Long, ts_us: Long, event_id: Long,
      f: Long, direction: String)

  private lazy val Geo =
    Machine[GeoState, GeoTransition]("geofence", GeoState(Nil, -1L, -1L, -1))

  /** Step of the geofence ENTER/EXIT detector: a ping the [[gate]]
    * releases whose mask differs from the previous one emits one
    * transition row per flipped bit. */
  private[graft] def geoStep(
      key: Long, evs: Seq[GeoPing], st0: GeoState, wmUs: Long)
      : (Seq[GeoTransition], Option[GeoState], Option[Long]) = {
    val (ready, pending, timer) = gate(st0.pending,
      evs.map(e => (e.ts_us, e.event_id, e.mask)), wmUs)(p => (p._1, p._2))
    var (lt, le, lm) = (st0.lastTs, st0.lastEid, st0.lastMask)
    val hits = ready.flatMap { case (ts, eid, m) =>
      val out: Seq[GeoTransition] =
        if (lm >= 0 && m != lm) {
          val diff = m ^ lm
          (0 until 6).collect { case f if ((diff >> f) & 1) == 1 =>
            GeoTransition(key, ts, eid, f.toLong,
              if (((m >> f) & 1) == 1) "enter" else "exit")
          }
        } else Seq.empty
      lt = ts; le = eid; lm = m
      out
    }
    (hits, Some(GeoState(pending, lt, le, lm)), timer)
  }

  /** STREAMING GEOFENCE TRANSITIONS — enter/exit rows per (vehicle,
    * fence), emitted exactly once (Append), event-time-correct under
    * disorder by the funnel's watermark-gating argument: a ping reaches
    * the mask-compare only once the watermark passes its time, so no
    * earlier-but-late ping can invalidate an emitted transition. */
  def geofenceStream(
      pings: Dataset[GeoPing],
      watermarkDelay: String = "10 minutes"): Dataset[GeoTransition] =
    viaGroupState(pings, watermarkDelay, Geo)(geoStep)

  /** [[geofenceStream]]'s transformWithState form. */
  def geofenceStreamTws(
      pings: Dataset[GeoPing],
      watermarkDelay: String = "10 minutes"): Dataset[GeoTransition] =
    viaProcessor(pings, watermarkDelay, Geo)(geoStep)

  case class EwmaPing(user_id: Long, t: java.sql.Timestamp, ts_us: Long,
      event_id: Long, cents: Long) extends Keyed

  /** Detector state: in-watermark pings (rate × delay-bounded) plus the
    * last ≤15 PROCESSED cents, oldest first — the 16-tap frame tail. */
  case class EwmaState(pending: Seq[(Long, Long, Long)], tail: Seq[Long])

  case class EwmaOut(user_id: Long, ts_us: Long, event_id: Long,
      cents: Long, num: Long, den: Long, ewma: Double)

  private lazy val Ewma =
    Machine[EwmaState, EwmaOut]("ewma", EwmaState(Nil, Nil))

  /** Step of the STREAMING 16-tap binary-decay EWMA (batch twin:
    * `Warehouse.tsEwma`, same integer num/den contract): each ping the
    * [[gate]] releases emits Σ frameⱼ·2ʲ over its trailing ≤16 frame. */
  private[graft] def ewmaStep(
      key: Long, evs: Seq[EwmaPing], st0: EwmaState, wmUs: Long)
      : (Seq[EwmaOut], Option[EwmaState], Option[Long]) = {
    val (ready, pending, timer) = gate(st0.pending,
      evs.map(e => (e.ts_us, e.event_id, e.cents)), wmUs)(p => (p._1, p._2))
    var tail = st0.tail
    val outs = ready.map { case (ts, eid, c) =>
      val frame = (tail :+ c).takeRight(16)
      var num = 0L
      var j = 0
      while (j < frame.length) { num += frame(j) << j; j += 1 }
      val den = (1L << frame.length) - 1L
      tail = frame.takeRight(15)
      EwmaOut(key, ts, eid, c, num, den, num.toDouble / den)
    }
    (outs, Some(EwmaState(pending, tail)), timer)
  }

  /** STREAMING EWMA — the time-series smoother as an incremental
    * stateful stream; O(16) state per key, emission exactly once. */
  def ewmaStream(
      pings: Dataset[EwmaPing],
      watermarkDelay: String = "10 minutes"): Dataset[EwmaOut] =
    viaGroupState(pings, watermarkDelay, Ewma)(ewmaStep)

  case class CusumState(pending: Seq[(Long, Long, Long)], s: Long)

  case class CusumOut(user_id: Long, ts_us: Long, event_id: Long,
      cents: Long, cusum: Long, alarm: Boolean)

  private lazy val Cusum =
    Machine[CusumState, CusumOut]("cusum", CusumState(Nil, 0L))

  /** Step of the STREAMING one-sided CUSUM drift detector (batch
    * cousin: `Warehouse.winCusum`; here the reference `kCents` and
    * threshold `hCents` are PINNED constants — the classic control-chart
    * form, since a stream cannot know its own global median): folds the
    * pings the [[gate]] releases into the single running-sum long
    * S = max(0, S + (cents − k)) per key. */
  private[graft] def cusumStep(
      key: Long, evs: Seq[EwmaPing], st0: CusumState, wmUs: Long,
      kCents: Long, hCents: Long)
      : (Seq[CusumOut], Option[CusumState], Option[Long]) = {
    val (ready, pending, timer) = gate(st0.pending,
      evs.map(e => (e.ts_us, e.event_id, e.cents)), wmUs)(p => (p._1, p._2))
    var s = st0.s
    val outs = ready.map { case (ts, eid, c) =>
      s = math.max(0L, s + (c - kCents))
      CusumOut(key, ts, eid, c, s, s > hCents)
    }
    (outs, Some(CusumState(pending, s)), timer)
  }

  /** STREAMING CUSUM — the change/drift detector as an incremental
    * stateful stream; O(1) state per key past the watermark buffer,
    * emission exactly once per ping. */
  def cusumStream(
      pings: Dataset[EwmaPing],
      kCents: Long, hCents: Long,
      watermarkDelay: String = "10 minutes"): Dataset[CusumOut] =
    viaGroupState(pings, watermarkDelay, Cusum)(
      cusumStep(_, _, _, _, kCents, hCents))

  /** Stream-static enrichment join: each streaming event picks up its
    * key's static dimension row — the streaming twin of the batch
    * broadcast dim join (J2/J3). Stateless: the static side is (re)read
    * and broadcast per micro-batch, so a dim refresh (new parquet files)
    * is picked up without restarting the query, and no watermark or
    * join state accumulates. */
  def enrichStream(
      events: DataFrame, // streaming side, carries `keys`
      dim: DataFrame, // static side (batch DataFrame)
      keys: Seq[String]): DataFrame =
    events.join(broadcast(dim), keys, "left")
}
