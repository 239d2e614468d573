package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.core.Sessionize
import graft.streaming.StreamOps.{KeyedEvent, Session}

class StreamOpsSpec extends SparkSpec {
  import sqlImplicits._

  /** Events offset to minute 1000: rows at event-time 0 sit exactly on the
    * initial watermark and are dropped by stateful operators. */
  private val BaseUs = 1000L * 60L * 1000000L

  private def ev(user: Long, minute: Long, value: Double): KeyedEvent = {
    val us = BaseUs + minute * 60L * 1000000L
    KeyedEvent(user, new Timestamp(us / 1000L), us, value)
  }

  private def runBatches[T](
      batches: Seq[Seq[KeyedEvent]],
      build: org.apache.spark.sql.Dataset[KeyedEvent] => org.apache.spark.sql.DataFrame) = {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[KeyedEvent]
    val out = build(mem.toDS())
    val qname = s"q${System.nanoTime()}"
    val query = out.writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b); query.processAllAvailable() }
      // one empty batch: the watermark computed from the last data batch is
      // applied (and state flushed) in the following micro-batch
      mem.addData(Seq.empty[KeyedEvent])
      query.processAllAvailable()
    } finally query.stop()
    spark.table(qname).collect()
  }

  // gap = 10 min; watermark 1 min
  private val gapUs = 10L * 60L * 1000000L

  /** Runs `body` on an operator's flatMapGroupsWithState form, then on its
    * transformWithState twin under the RocksDB state store provider that
    * API requires (restoring the session's provider after). */
  private def onBothApis[F](viaGroupState: F, viaProcessor: F)(body: F => Unit): Unit = {
    body(viaGroupState)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try withClue("[transformWithState] ")(body(viaProcessor))
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private val sessionizeApis =
    onBothApis[(Dataset[KeyedEvent], Long, String) => Dataset[Session]](
      StreamOps.sessionize, StreamOps.sessionizeTws) _

  test("streaming sessionize matches batch sessionize on closed sessions") {
    val batch1 = Seq(ev(1, 0, 1.0), ev(1, 5, 2.0), ev(2, 0, 5.0))
    val batch2 = Seq(ev(1, 30, 3.0), ev(2, 31, 6.0)) // closes session 1 for both
    val batch3 = Seq(ev(1, 90, 4.0)) // advances watermark past session 2's gap
    val rows = runBatches(Seq(batch1, batch2, batch3),
      ds => StreamOps.sessionize(ds, gapUs, "1 minute").toDF())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))

    // batch oracle over the same events (sessions closed by stream so far)
    val all = (batch1 ++ batch2 ++ batch3)
      .toDF("user_id", "t", "ts_us", "value")
    val batchSessions = Sessionize.withSessionId(
        all, Seq("user_id"), col("ts_us"), gapUs)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

    info(s"stream rows: ${rows.toList}")
    info(s"batch sessions: ${batchSessions.toList.sorted}")
    // every emitted streaming session appears identically in the batch run
    assert(rows.nonEmpty)
    assert(rows.toSet.subsetOf(batchSessions))
    // user 1's first session (2 events, sum 3.0) must have closed
    assert(rows.contains((1L, 1L, 2L, 3.0)))
    assert(rows.contains((2L, 1L, 1L, 5.0)))
  }

  test("streaming dedup drops within-watermark repeats, keeps the first") {
    val e1 = ev(1, 0, 7.0)
    val e1dup = ev(1, 1, 7.0).copy(ts_us = e1.ts_us) // same key fields
    val rows = runBatches(
      Seq(Seq(e1, ev(1, 5, 8.0)), Seq(e1dup), Seq(ev(2, 30, 9.0))),
      ds => StreamOps.dedupStream(ds.toDF(), Seq("user_id", "ts_us")))
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.length == 3) // the duplicate re-send was dropped
    assert(rows.toSet == Set(e1, ev(1, 5, 8.0), ev(2, 30, 9.0))
      .map(e => (e.user_id, e.ts_us)))
  }

  test("tumbling window counts emit finalized windows only") {
    val rows = runBatches(
      Seq(Seq(ev(1, 0, 1.0), ev(1, 3, 2.0), ev(1, 7, 4.0)),
        Seq(ev(1, 60, 9.0))), // watermark jumps far past the first windows
      ds => StreamOps.tumblingCounts(ds.toDF(), "5 minutes", "1 minute"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows == Set(
      (1L, BaseUs, 2L, 3.0), // [0,5): minutes 0,3
      (1L, BaseUs + 5L * 60L * 1000000L, 1L, 4.0))) // [5,10): minute 7
  }

  test("transformWithState sessionize matches the flatMapGroupsWithState form") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batches = Seq(
        Seq(ev(1, 0, 1.0), ev(1, 5, 2.0), ev(2, 0, 5.0)),
        Seq(ev(1, 30, 3.0), ev(2, 31, 6.0)),
        Seq(ev(1, 90, 4.0)))
      val rows = runBatches(batches,
        ds => StreamOps.sessionizeTws(ds, gapUs, "1 minute").toDF())
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5))).toSet
      val viaFmgws = runBatches(batches,
        ds => StreamOps.sessionize(ds, gapUs, "1 minute").toDF())
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5))).toSet
      assert(rows.nonEmpty)
      assert(rows == viaFmgws, s"tws=$rows fmgws=$viaFmgws")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream interval join pairs events within the window only") {
    implicit val sq = spark.sqlContext
    val lMem = MemoryStream[KeyedEvent]
    val rMem = MemoryStream[KeyedEvent]
    val joined = StreamOps.intervalJoin(
      lMem.toDS().toDF().selectExpr("user_id AS l_user", "t AS l_t", "ts_us AS l_id"),
      rMem.toDS().toDF().selectExpr("user_id AS r_user", "t AS r_t", "ts_us AS r_id"),
      window = "10 minutes", watermarkDelay = "1 minute")
    val qname = s"ij${System.nanoTime()}"
    val query = joined.writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    try {
      lMem.addData(Seq(ev(1, 0, 1.0), ev(1, 60, 2.0), ev(2, 5, 3.0)))
      rMem.addData(Seq(ev(1, 5, 9.0), ev(1, 58, 8.0), ev(2, 40, 7.0)))
      query.processAllAvailable()
      lMem.addData(Seq(ev(1, 200, 0.0))); rMem.addData(Seq(ev(1, 200, 0.0)))
      query.processAllAvailable()
    } finally query.stop()
    val pairs = spark.table(qname)
      .selectExpr("l_user", "(l_id - " + BaseUs + ") div 60000000 AS lm",
        "(r_id - " + BaseUs + ") div 60000000 AS rm")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // minute pairs within ±10: (0,5), (60,58), plus the flush events (200,200)
    assert(pairs.contains((1L, 0L, 5L)) && pairs.contains((1L, 60L, 58L)))
    assert(!pairs.contains((2L, 5L, 40L)), "35-minute gap must not join")
    assert(!pairs.exists(p => p._1 == 1 && p._2 == 0 && p._3 == 58))
  }

  test("left-outer interval join emits null-padded rows only after the watermark proof") {
    implicit val sq = spark.sqlContext
    val lMem = MemoryStream[KeyedEvent]
    val rMem = MemoryStream[KeyedEvent]
    val joined = StreamOps.intervalJoin(
      lMem.toDS().toDF().selectExpr("user_id AS l_user", "t AS l_t", "ts_us AS l_id"),
      rMem.toDS().toDF().selectExpr("user_id AS r_user", "t AS r_t", "ts_us AS r_id"),
      window = "10 minutes", watermarkDelay = "1 minute", joinType = "leftOuter")
    val qname = s"ijo${System.nanoTime()}"
    val query = joined.writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    def pairs() = spark.table(qname)
      .selectExpr("l_user", "(l_id - " + BaseUs + ") div 60000000 AS lm",
        "CASE WHEN r_id IS NULL THEN -1 ELSE (r_id - " + BaseUs + ") div 60000000 END AS rm")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      // user 1 minute 0 matches; user 2 minute 5 has no error within ±10
      lMem.addData(Seq(ev(1, 0, 1.0), ev(2, 5, 2.0)))
      rMem.addData(Seq(ev(1, 3, 9.0)))
      query.processAllAvailable()
      val early = pairs()
      assert(early.contains((1L, 0L, 3L)), s"matched pair must emit in-batch: $early")
      // the unmatched click must NOT have emitted yet: watermark (still at
      // minus-infinity after one batch) cannot prove absence
      assert(!early.exists(p => p._3 == -1L), s"premature outer emission: $early")
      // watermark drivers on BOTH sides (stream-stream wm is the min):
      // max event minute 100 → wm minute 99 > 5 + 10 + 1
      lMem.addData(Seq(ev(-1, 100, 0.0))); rMem.addData(Seq(ev(-2, 100, 0.0)))
      query.processAllAvailable()
      lMem.addData(Seq(ev(-1, 200, 0.0))); rMem.addData(Seq(ev(-2, 200, 0.0)))
      query.processAllAvailable()
      val late = pairs()
      assert(late.contains((2L, 5L, -1L)),
        s"watermark-proven unmatched click must emit null-padded: $late")
      // exactly-once: the matched click never also emits an outer row
      assert(!late.contains((1L, 0L, -1L)), s"matched click emitted outer too: $late")
    } finally query.stop()
  }

  test("stream-static enrichment join matches the batch broadcast join") {
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val rows = runBatches(
      Seq(Seq(ev(1, 0, 1.0), ev(2, 1, 2.0), ev(3, 2, 3.0))),
      ds => StreamOps.enrichStream(ds.toDF(), dim, Seq("user_id"))
        .select(col("user_id"), col("value"), col("tier")))
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2)))
      .toSet
    // left join: unknown user 3 passes through with a null tier
    assert(rows == Set((1L, 1.0, "gold"), (2L, 2.0, "basic"), (3L, 3.0, null)))
  }

  test("stream-stream as-of join matches the batch as-of on finalized probes") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.Row
    def row(user: Long, minute: Long, id: Long) = {
      val us = BaseUs + minute * 60L * 1000000L
      (user, new Timestamp(us / 1000L), us, id)
    }
    val probeMem = MemoryStream[(Long, Timestamp, Long, Long)]
    val buildMem = MemoryStream[(Long, Timestamp, Long, Long)]
    def df(m: MemoryStream[(Long, Timestamp, Long, Long)]) =
      m.toDS().toDF("user_id", "t", "ts_us", "ref_id")
    val out = StreamOps.asofJoinStream(df(probeMem), df(buildMem), "1 minute")
    val qname = s"asof${System.nanoTime()}"
    val query = out.toDF().writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    try {
      buildMem.addData(row(1, 0, 100), row(1, 20, 101))
      probeMem.addData(row(1, 5, 200), row(2, 6, 202)) // u2 has no builds
      query.processAllAvailable()
      probeMem.addData(row(1, 25, 201)) // matches the minute-20 build
      query.processAllAvailable()
      buildMem.addData(row(9, 100, 999)) // watermark driver: wm → minute 99
      query.processAllAvailable()
      probeMem.addData(Seq.empty[(Long, Timestamp, Long, Long)]: _*)
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.table(qname).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    // probe 200 @5 → build 100 @0; probe 201 @25 → build 101 @20;
    // probe 202 (user 2) → no build (-1). All finalized by wm=99.
    assert(got == Set((1L, 200L, 100L), (1L, 201L, 101L), (2L, 202L, -1L)))
  }

  test("as-of stream: a probe is not emitted before the watermark passes it") {
    implicit val sq = spark.sqlContext
    def row(user: Long, minute: Long, id: Long) = {
      val us = BaseUs + minute * 60L * 1000000L
      (user, new Timestamp(us / 1000L), us, id)
    }
    val probeMem = MemoryStream[(Long, Timestamp, Long, Long)]
    val buildMem = MemoryStream[(Long, Timestamp, Long, Long)]
    def df(m: MemoryStream[(Long, Timestamp, Long, Long)]) =
      m.toDS().toDF("user_id", "t", "ts_us", "ref_id")
    val out = StreamOps.asofJoinStream(df(probeMem), df(buildMem), "30 minutes")
    val qname = s"asofhold${System.nanoTime()}"
    val query = out.toDF().writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    try {
      buildMem.addData(row(1, 0, 100))
      probeMem.addData(row(1, 5, 200)) // wm after batch: max(5)−30 < 5
      query.processAllAvailable()
      probeMem.addData(Seq.empty[(Long, Timestamp, Long, Long)]: _*)
      query.processAllAvailable()
      assert(spark.table(qname).isEmpty,
        "probe emitted before its time was final — a late build could still change the match")
      // now a late-but-in-watermark build arrives BEFORE the probe's time
      // and must win over build 100
      buildMem.addData(row(1, 3, 101))
      probeMem.addData(row(1, 60, 201)) // advances wm past minute 5
      query.processAllAvailable()
      probeMem.addData(Seq.empty[(Long, Timestamp, Long, Long)]: _*)
      query.processAllAvailable()
    } finally query.stop()
    val got = spark.table(qname).collect()
      .map(r => (r.getLong(1), r.getLong(3))).toSet
    assert(got == Set((200L, 101L))) // the late build is the match
  }

  test("gap-disjoint late event before the open session emits as an island, not a merge") {
    // session [30,35] open; a late-but-in-watermark event at minute 0 is
    // gap-disjoint (10 min gap) from its start — absorbing it would
    // corrupt the session span; it must emit as an out-of-band island
    sessionizeApis { sessionize =>
      val rows = runBatches(
        Seq(
          Seq(ev(1, 30, 1.0), ev(1, 35, 2.0)),
          Seq(ev(1, 0, 9.0)), // late island, 30 min before the session start
          Seq(ev(1, 120, 4.0))), // flushes everything
        ds => sessionize(ds, gapUs, "40 minutes").toDF())
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5)))
        .toSet
      // island: id 0, single event at minute 0; main session intact [30,35]
      val base = BaseUs
      assert(rows.contains((0L, 1L, base, 9.0)), s"island missing in $rows")
      assert(rows.exists { case (id, n, start, sum) =>
        id >= 1L && n == 2L && start == base + 30L * 60L * 1000000L && sum == 3.0
      }, s"main session corrupted: $rows")
    }
  }

  test("late events that transitively bridge into the session extend it, not island") {
    // session opens [30,35]; lates at minutes 14 and 22 arrive together:
    // 22 is within gap of 30, 14 within gap of 22 — the descending walk
    // must chain BOTH in (a naive ascending check would island 14)
    sessionizeApis { sessionize =>
      val rows = runBatches(
        Seq(
          Seq(ev(1, 30, 1.0), ev(1, 35, 2.0)),
          Seq(ev(1, 14, 4.0), ev(1, 22, 8.0)),
          Seq(ev(1, 120, 0.5))), // flush
        ds => sessionize(ds, gapUs, "40 minutes").toDF())
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5)))
        .toSet
      val base14 = BaseUs + 14L * 60L * 1000000L
      assert(rows.exists { case (id, n, start, sum) =>
        id >= 1L && n == 4L && start == base14 && sum == 15.0
      }, s"bridged session wrong: $rows")
      assert(!rows.exists(_._1 == 0L), s"spurious island: $rows")
    }
  }

  test("late in-watermark event extending an elapsed-gap session does not kill the query") {
    // regression: the session's lastUs+gap can sit at-or-before the
    // watermark after a late event extends it; the timeout must clamp to
    // watermark+1 instead of throwing (gap < watermark delay)
    val shortGapUs = 60L * 1000000L // 1 min gap, 10 min watermark delay
    sessionizeApis { sessionize =>
      val rows = runBatches(
        Seq(
          Seq(ev(1, 0, 1.0), ev(1, 30, 2.0)), // watermark → minute 20
          Seq(ev(1, 21, 9.0)), // late but in-watermark; gap already elapsed
          Seq(ev(1, 60, 4.0))), // advances watermark, flushes
        ds => sessionize(ds, shortGapUs, "10 minutes").toDF())
      // the query surviving + emitting sessions is the assertion; exact
      // session shapes are covered by the batch-parity test
      assert(rows.nonEmpty)
    }
  }

  test("as-of state shrinks to the one-build floor as the watermark advances past an idle key") {
    // drives the PURE step function (StreamOps.asofStep — exactly what
    // each flatMapGroupsWithState invocation runs) through 3+ watermark
    // advances past a key that receives no further events, asserting the
    // r4 idle-key eviction contract: every advance shrinks the build
    // list to {latest ≤ wm} ∪ {ahead}, the timer chain keeps the key
    // re-invokable while anything is still ahead, and at the one-build
    // floor the timer chain ENDS (state is O(1) per key from then on).
    import StreamOps.{AsOfBuffer, AsOfEvent}
    def us(minute: Long) = BaseUs + minute * 60L * 1000000L
    def build(minute: Long, id: Long) =
      AsOfEvent(1L, new Timestamp(us(minute) / 1000L), us(minute), 0, id)
    def probe(minute: Long, id: Long) =
      AsOfEvent(1L, new Timestamp(us(minute) / 1000L), us(minute), 1, id)

    // batch 0: four builds land while the watermark is far behind
    val (out0, Some(st1), t1) = StreamOps.asofStep(1L,
      Seq(build(10, 100), build(50, 101), build(100, 102), build(150, 103)),
      AsOfBuffer(Nil, Nil), wmUs = 0L): @unchecked
    assert(out0.isEmpty && st1.builds.size == 4 && t1.isDefined)

    // three watermark advances with NO events for the key; sizes must
    // shrink monotonically to the floor and the timer must survive
    // exactly until the floor
    var st = st1
    var sizes = List(st.builds.size)
    var lastTimer: Option[Long] = t1
    for (wmMin <- Seq(60L, 120L, 200L)) {
      assert(lastTimer.isDefined, s"timer chain broke before wm=$wmMin with builds ahead")
      val (out, Some(next), timer) =
        StreamOps.asofStep(1L, Nil, st, us(wmMin)): @unchecked
      assert(out.isEmpty)
      // invariant: at most one build at-or-behind the watermark
      assert(next.builds.count(_._1 <= us(wmMin)) <= 1)
      st = next; sizes = next.builds.size :: sizes; lastTimer = timer
    }
    assert(sizes.reverse == List(4, 3, 2, 1), s"got ${sizes.reverse}")
    assert(st.builds == List((us(150), 103L)), "floor = latest build only")
    assert(lastTimer.isEmpty, "timer chain must end at the one-build floor")

    // at the floor a further advance is a no-op (the runtime would not
    // even re-invoke — no timer — but the step must be idempotent)
    val (_, Some(stSame), tSame) =
      StreamOps.asofStep(1L, Nil, st, us(300)): @unchecked
    assert(stSame == st && tSame.isEmpty)

    // and the retained floor build is still the match for a late probe
    val (_, Some(stP), _) =
      StreamOps.asofStep(1L, Seq(probe(310, 200)), st, us(300)): @unchecked
    val (outP, _, _) = StreamOps.asofStep(1L, Nil, stP, us(400))
    assert(outP.map(m => (m.probe_id, m.build_id)) == Seq((200L, 103L)))
  }

  test("funnelStep property: any watermark chunking emits exactly the one-shot hit sequence") {
    // 100 seeded random event sequences, each delivered (a) in one step
    // with the watermark past everything, and (b) in random arrival
    // order across a random ascending watermark ladder — the hit
    // sequences must be identical. This is the strongest statement of
    // the machine's event-time correctness: delivery order and batch
    // boundaries are invisible.
    import StreamOps.{FunnelEvent, FunnelState}
    val rnd = new scala.util.Random(7)
    def us(minute: Long) = BaseUs + minute * 60L * 1000000L
    val empty = FunnelState(Nil, 0, -1L, -1L, -1L)
    (1 to 100).foreach { trial =>
      val n = 3 + rnd.nextInt(12)
      val evs = (1 to n).map { i =>
        val m = 1 + rnd.nextInt(50)
        FunnelEvent(1L, new Timestamp(us(m) / 1000L), us(m), i.toLong,
          1 + rnd.nextInt(3))
      }
      // one-shot = deliver everything while the watermark is behind,
      // then flush with the watermark past everything (feeding events
      // with a watermark already ahead of them would make them LATE,
      // and late arrivals are dropped by contract — see the late-drop
      // test below)
      val oneShot = {
        val (h0, next0, _) = StreamOps.funnelStep(1L, evs, empty, 0L)
        val (h1, _, _) = StreamOps.funnelStep(1L, Nil, next0.get, us(1000))
        h0 ++ h1
      }
      // random ladder: shuffle arrival, split into chunks, advance the
      // watermark monotonically between steps, finish past everything
      val arrival = rnd.shuffle(evs)
      val cuts = (0 until 2 + rnd.nextInt(3))
        .map(_ => rnd.nextInt(arrival.size + 1)).sorted
      val chunks = (Seq(0) ++ cuts ++ Seq(arrival.size)).distinct.sorted
        .sliding(2).map { case Seq(a, b) => arrival.slice(a, b) }.toSeq
      // the watermark contract: a batch runs under the watermark
      // ANNOUNCED before its rows were read, so the bound is the minimum
      // ts not yet delivered INCLUDING the current chunk — the engine
      // never hands the operator an event older than a watermark it
      // already announced
      var wm = 0L
      var st = empty
      var delivered = 0
      val got = scala.collection.mutable.ArrayBuffer.empty[StreamOps.FunnelHit]
      chunks.foreach { chunk =>
        val undelivered = arrival.drop(delivered)
        val bound = if (undelivered.isEmpty) us(1000)
          else undelivered.map(_.ts_us).min
        wm = math.max(wm, math.min(bound, us(rnd.nextInt(60).toLong)))
        delivered += chunk.size
        val (h, next, _) = StreamOps.funnelStep(1L, chunk, st, wm)
        got ++= h; st = next.get
      }
      val (hFinal, _, _) = StreamOps.funnelStep(1L, Nil, st, us(1000))
      got ++= hFinal
      assert(got.toSeq == oneShot, s"trial $trial: chunked=$got oneShot=$oneShot")
    }
  }

  test("funnelStep: watermark chunking preserves batch semantics; tombstone never re-emits") {
    import StreamOps.{FunnelEvent, FunnelHit, FunnelState}
    def us(minute: Long) = BaseUs + minute * 60L * 1000000L
    def ev(minute: Long, id: Long, kind: Int) =
      FunnelEvent(1L, new Timestamp(us(minute) / 1000L), us(minute), id, kind)
    val empty = FunnelState(Nil, 0, -1L, -1L, -1L)

    // all events arrive at once but the watermark is behind: nothing is
    // final, everything buffers, a timer is armed
    val evs = Seq(ev(30, 5, 2), ev(10, 1, 1), ev(20, 2, 1), // clicks/views out of order
      ev(5, 0, 2), // click BEFORE any view — must never fire
      ev(40, 7, 3), ev(50, 9, 3))
    val (h0, Some(st1), timer1) = StreamOps.funnelStep(1L, evs, empty, us(0)): @unchecked
    assert(h0.isEmpty && st1.pending.size == 6 && timer1.isDefined)

    // watermark to minute 25: the view at 10 fires stage 1 (the EARLIEST
    // view, not the first-arriving); the pre-view click at 5 is consumed
    // silently; the view at 20 is ignored
    val (h1, Some(st2), timer2) = StreamOps.funnelStep(1L, Nil, st1, us(25)): @unchecked
    assert(h1 == Seq(FunnelHit(1L, 1L, us(10))))
    assert(st2.stage == 1 && st2.t1 == us(10) && st2.pending.size == 3)
    assert(timer2.isDefined, "pending events must keep a timer armed")

    // watermark past everything: click@30 -> stage 2, purchase@40 -> stage 3,
    // purchase@50 ignored (already complete)
    val (h2, Some(st3), timer3) = StreamOps.funnelStep(1L, Nil, st2, us(100)): @unchecked
    assert(h2 == Seq(FunnelHit(1L, 2L, us(30)), FunnelHit(1L, 3L, us(40))))
    assert(st3.stage == 3 && st3.pending.isEmpty && timer3.isEmpty)

    // tombstone: a whole new funnel-worth of later events re-emits NOTHING
    val (h3, Some(st4), _) = StreamOps.funnelStep(1L,
      Seq(ev(200, 20, 1), ev(210, 21, 2), ev(220, 22, 3)), st3, us(300)): @unchecked
    assert(h3.isEmpty && st4.stage == 3)

    // chunked delivery == one-shot delivery (the batch-equivalence core):
    // the same events delivered in one batch (watermark behind, then a
    // flush past everything) give the identical hit sequence
    val (hA, Some(stA), _) = StreamOps.funnelStep(1L, evs, empty, us(0)): @unchecked
    val (hB, _, _) = StreamOps.funnelStep(1L, Nil, stA, us(100))
    assert(hA ++ hB == h1 ++ h2)
  }

  test("funnelStep: a genuinely late arrival (ts behind the announced watermark) is dropped") {
    // Spark does not pre-filter late rows for flatMapGroupsWithState —
    // funnelStep pins the windowed-aggregation contract itself: an event
    // whose ts is already behind the watermark when it ARRIVES is
    // discarded (never consumed out of time order, never buffered).
    import StreamOps.{FunnelEvent, FunnelHit, FunnelState}
    def us(minute: Long) = BaseUs + minute * 60L * 1000000L
    def ev(minute: Long, id: Long, kind: Int) =
      FunnelEvent(1L, new Timestamp(us(minute) / 1000L), us(minute), id, kind)
    val empty = FunnelState(Nil, 0, -1L, -1L, -1L)

    // view@20 delivered on time, matured at wm 30 → stage 1
    val (_, Some(st1), _) = StreamOps.funnelStep(1L, Seq(ev(20, 1, 1)), empty, us(0)): @unchecked
    val (h1, Some(st2), _) = StreamOps.funnelStep(1L, Nil, st1, us(30)): @unchecked
    assert(h1 == Seq(FunnelHit(1L, 1L, us(20))))

    // a click@25 arriving NOW is late (wm already 30): dropped — no hit,
    // no buffering, state untouched beyond the already-reached stage
    val (hLate, Some(st3), timer) = StreamOps.funnelStep(1L, Seq(ev(25, 2, 2)), st2, us(30)): @unchecked
    assert(hLate.isEmpty, "late event must not emit")
    assert(st3.pending.isEmpty, "late event must not buffer")
    assert(st3.stage == 1 && timer.isEmpty)

    // and it can never fire retroactively: a later flush emits nothing
    val (hFlush, _, _) = StreamOps.funnelStep(1L, Nil, st3, us(100))
    assert(hFlush.isEmpty)

    // an on-time click@35 afterwards still advances the machine — the
    // drop affected only the late row, not the funnel
    val (_, Some(st4), _) = StreamOps.funnelStep(1L, Seq(ev(35, 3, 2)), st3, us(30)): @unchecked
    val (h2, _, _) = StreamOps.funnelStep(1L, Nil, st4, us(100))
    assert(h2 == Seq(FunnelHit(1L, 2L, us(35))))
  }

  test("sessionStep: a timer call closes only once the gap has elapsed; chunking closes the one-shot sessions") {
    import StreamOps.SessState
    def us(minute: Long) = BaseUs + minute * 60L * 1000000L
    val zero = SessState(0L, 0L, 0L, 0L, 0.0)
    val (o0, Some(st1), Some(t1)) = StreamOps.sessionStep(1L,
      Seq(ev(1, 5, 2.0), ev(1, 0, 1.0)), zero, 0L, gapUs): @unchecked
    assert(o0.isEmpty && st1 == SessState(1L, 2L, us(0), us(5), 3.0))
    // the timer: first ms at which the watermark is past lastUs + gap
    assert(t1 == (us(5) + gapUs) / 1000L + 1L)
    // a timer call with the gap not yet elapsed (the watermark exactly at
    // lastUs + gap) emits nothing, keeps the session and re-arms
    assert(StreamOps.sessionStep(1L, Nil, st1, us(15), gapUs) ==
      ((Nil, Some(st1), Some(t1))))
    // once elapsed, the session emits once and the state is removed
    assert(StreamOps.sessionStep(1L, Nil, st1, us(15) + 1000L, gapUs) ==
      ((Seq(Session(1L, 1L, 2L, us(0), us(5), 3.0)), None, None)))
    assert(StreamOps.sessionStep(1L, Nil, zero, us(100), gapUs) == ((Nil, None, None)))

    // an in-order feed delivered in random chunks under the engine's
    // watermark (1 min behind the rows already delivered, with timer
    // calls on idle batches) closes the same sessions as one shot; ids
    // may differ, as a timer close restarts them at 1
    val rnd = new scala.util.Random(11)
    def shape(s: Seq[Session]) = s.map(x => (x.start_us, x.end_us, x.n_events, x.value_sum))
    (1 to 50).foreach { trial =>
      val feed = Seq.fill(5 + rnd.nextInt(20))(rnd.nextInt(200).toLong).sorted
        .zipWithIndex.map { case (m, i) => ev(1, m, i.toDouble) }
      val oneShot = {
        val (h0, Some(st), _) = StreamOps.sessionStep(1L, feed, zero, 0L, gapUs): @unchecked
        h0 ++ StreamOps.sessionStep(1L, Nil, st, us(1000), gapUs)._1
      }
      val cuts = Seq.fill(rnd.nextInt(6))(rnd.nextInt(feed.size + 1))
      val chunks = (Seq(0) ++ cuts ++ Seq(feed.size)).sorted.sliding(2)
        .map { case Seq(a, b) => feed.slice(a, b) }.toSeq
      var st = zero
      var timer = Option.empty[Long]
      var wmUs = 0L
      val got = scala.collection.mutable.ArrayBuffer.empty[Session]
      def call(rows: Seq[KeyedEvent]): Unit = {
        val (out, next, t) = StreamOps.sessionStep(1L, rows, st, wmUs, gapUs)
        got ++= out; st = next.getOrElse(zero); timer = t
      }
      chunks.foreach { chunk =>
        if (chunk.nonEmpty) call(chunk)
        else if (timer.exists(_ < wmUs / 1000L)) call(Nil)
        if (chunk.nonEmpty) wmUs = math.max(wmUs, chunk.last.ts_us - 60L * 1000000L)
      }
      wmUs = us(1000)
      call(Nil)
      assert(shape(got.toSeq) == shape(oneShot), s"trial $trial: chunked=$got oneShot=$oneShot")
    }
  }

  test("cdcStep: every delivery order of a key's records, then the sentinel, ends in the same row") {
    import StreamOps.{CdcOp, CdcRow, CdcState}
    def us(minute: Long) = BaseUs + minute * 60L * 1000000L
    def op(minute: Long, id: Long, v: Double, o: String) =
      CdcOp(1L, new Timestamp(us(minute) / 1000L), us(minute), id, v, o)
    val zero = CdcState(0L, 0L, 0.0, "", 0L)
    def deliver(order: Seq[CdcOp]): Seq[CdcRow] = {
      val st = order.foldLeft(zero) { (s, r) =>
        val (out, Some(next), timer) = StreamOps.cdcStep(1L, Seq(r), s, 0L): @unchecked
        assert(out.isEmpty && timer.isEmpty, "only the sentinel arms the close")
        next
      }
      val (out, Some(armed), Some(_)) =
        StreamOps.cdcStep(1L, Seq(op(2000, 0, 0.0, "x")), st, 0L): @unchecked
      assert(out.isEmpty)
      val (row, next, timer) = StreamOps.cdcStep(1L, Nil, armed, us(3000))
      assert(next.isEmpty && timer.isEmpty)
      row
    }
    // an upsert, a delete, and two records tied on ts (the higher
    // event_id wins the tie)
    val records = Seq(op(10, 1, 1.0, "u"), op(15, 2, 0.0, "d"),
      op(20, 4, 4.0, "u"), op(20, 3, 3.0, "u"))
    records.permutations.foreach { order =>
      assert(deliver(order) == Seq(CdcRow(1L, us(20), 4L, 4.0, 4L)), s"order $order")
    }
    // the latest record a delete: no row, whatever the order
    (records :+ op(30, 5, 0.0, "d")).permutations.foreach { order =>
      assert(deliver(order).isEmpty, s"order $order")
    }
  }

  test("cdcStream: reordered delivery converges to the same last-writer-wins table; deletes erase; sentinel arms the close") {
    import StreamOps.{CdcOp, CdcRow}
    def us(minute: Long) = BaseUs + minute * 60L * 1000000L
    def op(user: Long, minute: Long, id: Long, v: Double, o: String) =
      CdcOp(user, new Timestamp(us(minute) / 1000L), us(minute), id, v, o)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[CdcOp]
    val out = StreamOps.cdcStream(mem.toDS(), "30 minutes")
    val qname = s"q${System.nanoTime()}"
    val query = out.writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    try {
      // batch 1: the NEWEST records arrive first (scrambled delivery) —
      // user 1's latest update, user 2's delete-as-last-op
      mem.addData(Seq(op(1, 20, 5, 5.0, "u"), op(2, 25, 6, 9.0, "d")))
      query.processAllAvailable()
      // batch 2: OLDER records late but inside the 30-min watermark —
      // must fold into n_ops without overwriting the newer state
      mem.addData(Seq(op(1, 10, 1, 1.0, "u"), op(1, 15, 2, 2.0, "u"),
        op(2, 5, 3, 3.0, "u")))
      query.processAllAvailable()
      // batch 3: per-key end-of-feed sentinels (close timers arm HERE,
      // not on a per-batch watermark — an early arm would have emitted
      // user 1 before batch 2's records landed)
      mem.addData(Seq(op(1, 2000, 0, 0.0, "x"), op(2, 2000, 0, 0.0, "x")))
      query.processAllAvailable()
      mem.addData(Seq.empty[CdcOp])
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table(qname).as[CdcRow].collect().toSet
    // user 1: last-writer (minute 20, id 5), n_ops counts ALL 3 records;
    // user 2: last op is a delete → absent entirely
    assert(rows == Set(CdcRow(1L, us(20), 5L, 5.0, 3L)), s"got $rows")
  }

  test("funnelStream end-to-end: reordered delivery (a scrambled sentinel ladder) yields the pinned drop semantics, never undefined output") {
    // The sink harnesses stage files with ascending mtimes so the file
    // source delivers them in event-time order — an ASSUMED invariant
    // until now (r7 verdict stretch #7). This pin drives the REAL
    // stream (watermark computation, flatMapGroupsWithState wiring)
    // with batches delivered OUT of event-time order — exactly what a
    // scrambled ladder produces under maxFilesPerTrigger=1 — and
    // asserts the outcome is the pinned contract: on-time events emit
    // the batch-oracle transitions, genuinely late events are dropped,
    // and nothing out-of-time-order is ever emitted.
    import StreamOps.{FunnelEvent, FunnelHit}
    def us(minute: Long) = BaseUs + minute * 60L * 1000000L
    def fev(user: Long, minute: Long, id: Long, kind: Int) =
      FunnelEvent(user, new Timestamp(us(minute) / 1000L), us(minute), id, kind)
    implicit val sq = spark.sqlContext
    onBothApis[(Dataset[FunnelEvent], String) => Dataset[FunnelHit]](
      StreamOps.funnelStream, StreamOps.funnelStreamTws) { funnelStream =>
      val mem = MemoryStream[FunnelEvent]
      val out = funnelStream(mem.toDS(), "1 minute")
      val qname = s"q${System.nanoTime()}"
      val query = out.writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        // "file 1": user 1's view+click, plus a far-future row that will
        // push the watermark to minute 499
        mem.addData(Seq(fev(1, 10, 1, 1), fev(1, 20, 2, 2), fev(2, 500, 3, 1)))
        query.processAllAvailable()
        // "file 0" delivered SECOND (the scrambled ladder): user 1's
        // purchase@30 arrives with the watermark already at 499 — late by
        // contract, must be dropped, not consumed in arrival order
        mem.addData(Seq(fev(1, 30, 4, 3)))
        query.processAllAvailable()
        // "file 2": an on-time purchase plus a watermark pusher
        mem.addData(Seq(fev(1, 505, 5, 3), fev(2, 600, 6, 2)))
        query.processAllAvailable()
        mem.addData(Seq.empty[FunnelEvent])
        query.processAllAvailable()
      } finally query.stop()
      val hits = spark.table(qname).as[FunnelHit].collect().toSet
      // on-time path emitted; the late purchase@30 NEVER became stage 3
      assert(hits.contains(FunnelHit(1L, 1L, us(10))), s"got $hits")
      assert(hits.contains(FunnelHit(1L, 2L, us(20))), s"got $hits")
      assert(!hits.exists(h => h.user_id == 1L && h.stage == 3L && h.ts_us == us(30)),
        s"late purchase consumed out of order: $hits")
      assert(hits.contains(FunnelHit(1L, 3L, us(505))),
        s"on-time purchase after the dropped one must still fire: $hits")
      assert(hits.contains(FunnelHit(2L, 1L, us(500))), s"got $hits")
    }
  }

  test("geofenceStream: scrambled delivery yields the event-time transition sequence; late pings drop") {
    import StreamOps.{GeoPing, GeoTransition}
    def us(minute: Long) = BaseUs + minute * 60L * 1000000L
    def ping(user: Long, minute: Long, id: Long, mask: Int) =
      GeoPing(user, new Timestamp(us(minute) / 1000L), us(minute), id, mask)
    implicit val sq = spark.sqlContext
    onBothApis[(Dataset[GeoPing], String) => Dataset[GeoTransition]](
      StreamOps.geofenceStream, StreamOps.geofenceStreamTws) { geofenceStream =>
      val mem = MemoryStream[GeoPing]
      val out = geofenceStream(mem.toDS(), "30 minutes")
      val qname = s"q${System.nanoTime()}"
      val query = out.writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        // user 1's ladder in event time: m10 mask=001 → m20 mask=011
        // (enter f1) → m30 mask=010 (exit f0) → m40 mask=010 (no change);
        // delivered SCRAMBLED across two batches
        mem.addData(Seq(ping(1, 30, 3, 2), ping(1, 10, 1, 1)))
        query.processAllAvailable()
        mem.addData(Seq(ping(1, 40, 4, 2), ping(1, 20, 2, 3)))
        query.processAllAvailable()
        // watermark pusher: all of user 1's pings become ready at once and
        // must be processed in (ts, event_id) order, not arrival order
        mem.addData(Seq(ping(2, 2000, 9, 0)))
        query.processAllAvailable()
        // a genuinely late ping (m15, watermark long past) must be DROPPED
        // — were it consumed, mask 111 vs the last mask 010 would emit
        mem.addData(Seq(ping(1, 15, 5, 7)))
        query.processAllAvailable()
        mem.addData(Seq.empty[GeoPing])
        query.processAllAvailable()
      } finally query.stop()
      val rows = spark.table(qname).as[GeoTransition].collect().toSet
      assert(rows == Set(
        GeoTransition(1L, us(20), 2L, 1L, "enter"),
        GeoTransition(1L, us(30), 3L, 0L, "exit")), s"got $rows")
    }
  }

  test("ewmaStream: scrambled delivery still emits event-time frames; late pings drop") {
    import StreamOps.{EwmaOut, EwmaPing}
    def us(minute: Long) = BaseUs + minute * 60L * 1000000L
    def ping(user: Long, minute: Long, id: Long, cents: Long) =
      EwmaPing(user, new Timestamp(us(minute) / 1000L), us(minute), id, cents)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EwmaPing]
    val out = StreamOps.ewmaStream(mem.toDS(), "30 minutes")
    val qname = s"q${System.nanoTime()}"
    val query = out.writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    try {
      // event-time ladder 10→20→30 cents 4, 2, 6; delivered scrambled
      mem.addData(Seq(ping(1, 30, 3, 6), ping(1, 10, 1, 4)))
      query.processAllAvailable()
      mem.addData(Seq(ping(1, 20, 2, 2)))
      query.processAllAvailable()
      mem.addData(Seq(ping(2, 2000, 9, 1))) // watermark pusher
      query.processAllAvailable()
      mem.addData(Seq(ping(1, 15, 5, 100))) // genuinely late: dropped
      query.processAllAvailable()
      mem.addData(Seq.empty[EwmaPing])
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table(qname).as[EwmaOut].collect()
      .filter(_.user_id == 1L).sortBy(_.ts_us)
    // frames in EVENT-time order: [4]=4/1, [4,2]=4+2·2=8/3, [4,2,6]=4+4+24=32/7
    assert(rows.map(r => (r.ts_us, r.cents, r.num, r.den)).toSeq == Seq(
      (us(10), 4L, 4L, 1L), (us(20), 2L, 8L, 3L), (us(30), 6L, 32L, 7L)),
      s"got ${rows.toSeq}")
  }

  test("cusumStream: scrambled delivery runs the recursion in event-time order") {
    import StreamOps.{CusumOut, EwmaPing}
    def us(minute: Long) = BaseUs + minute * 60L * 1000000L
    def ping(user: Long, minute: Long, id: Long, cents: Long) =
      EwmaPing(user, new Timestamp(us(minute) / 1000L), us(minute), id, cents)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EwmaPing]
    // k = 10, h = 5: S over cents 18, 4, 30 = 8, 2, 22 → alarms T, F, T
    val out = StreamOps.cusumStream(mem.toDS(), 10L, 5L, "30 minutes")
    val qname = s"q${System.nanoTime()}"
    val query = out.writeStream.format("memory").queryName(qname)
      .outputMode("append").start()
    try {
      // delivered scrambled; the recursion must still fold 18 → 4 → 30
      mem.addData(Seq(ping(1, 30, 3, 30), ping(1, 10, 1, 18)))
      query.processAllAvailable()
      mem.addData(Seq(ping(1, 20, 2, 4)))
      query.processAllAvailable()
      mem.addData(Seq(ping(2, 2000, 9, 1))) // watermark pusher
      query.processAllAvailable()
      mem.addData(Seq(ping(1, 15, 5, 100))) // genuinely late: dropped
      query.processAllAvailable()
      mem.addData(Seq.empty[EwmaPing])
      query.processAllAvailable()
    } finally query.stop()
    val rows = spark.table(qname).as[CusumOut].collect()
      .filter(_.user_id == 1L).sortBy(_.ts_us)
    assert(rows.map(r => (r.ts_us, r.cents, r.cusum, r.alarm)).toSeq == Seq(
      (us(10), 18L, 8L, true), (us(20), 4L, 2L, false),
      (us(30), 30L, 22L, true)), s"got ${rows.toSeq}")
  }
}
