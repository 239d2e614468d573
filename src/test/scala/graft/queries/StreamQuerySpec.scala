package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Registered-query-level parity for the streaming sink round-trips: the
  * operator semantics are MemoryStream-spec'd in `StreamOpsSpec`; this
  * pins the full stage→stream→sink→read-back harness against the batch
  * plan it must reproduce (the same comparison the driver's DuckDB gate
  * makes, minus the engine swap). */
class StreamQuerySpec extends SparkSpec {

  /** Land `df` as a single parquet part file at `dir/name` — the
    * append-one-file feed every recovery test uses to extend a running
    * stream's input between restarted runs. ONE copy of the
    * write-then-move mechanics so the three recovery harnesses cannot
    * drift. */
  private def stagePartFile(df: org.apache.spark.sql.DataFrame,
      dir: String, name: String): Unit = {
    val tmp = graft.core.Tmp.jvmScopedDir("spec_stage_part", s"$dir/$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, name).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.core.Tmp.deleteRecursively(tmp)
  }

  /** One AvailableNow run of a streaming DataFrame into an append
    * parquet sink under a persistent checkpoint — the restartable
    * runner shared by the recovery tests. */
  private def runAvailableNow(outDir: String, ckDir: String)
      (build: => org.apache.spark.sql.DataFrame): Unit = {
    val q = build
      .writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckDir)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.coalesce(1).write.mode("append").parquet(outDir)
      }
      .start()
    q.awaitTermination()
  }

  /** Name → mtime of every file in a sink's staged input dir (marker
    * included), failing if the dir is empty or absent. */
  private def stagedFiles(tag: String): Map[String, Long] = {
    val dir = new java.io.File(graft.core.Tmp.jvmScopedDir(tag, sf0001))
    val files = Option(dir.listFiles()).toSeq.flatten
    assert(files.nonEmpty, s"no staged input at $dir")
    files.map(f => f.getName -> f.lastModified).toMap
  }

  private def rows(name: String): Seq[String] =
    Ext.all(name)(spark, sf0001).collect().map(_.toString).toSeq

  test("a ladder sink and a plain sink rerun in one JVM: same rows, staged files untouched") {
    for ((name, inTag, rungs) <- Seq(
        ("stream_tumbling_sink", "stream_tw_in", 3),
        ("stream_enrich_sink", "stream_en_in", 1))) {
      val first = rows(name)
      val staged = stagedFiles(inTag)
      val ladder = (0 until rungs).map(i => staged(s"f$i.parquet"))
      assert(ladder.zip(ladder.tail).forall { case (a, b) => a < b },
        s"$name: rung mtimes not strictly ascending: $ladder")
      assert(staged.keySet.filterNot(_.startsWith("_")) ==
        (0 until rungs).map(i => s"f$i.parquet").toSet, s"$name: $staged")
      val second = rows(name)
      assert(first.nonEmpty && first == second,
        s"$name: rerun gave ${second.size} rows, first run ${first.size}")
      assert(stagedFiles(inTag) == staged, s"$name: rerun re-staged its input")
    }
  }

  test("the _tws twin reuses its sibling's staged input without touching it") {
    val fmgws = rows("stream_geofence_sink")
    val staged = stagedFiles("stream_geofence_in")
    val tws = rows("stream_geofence_tws_sink")
    assert(stagedFiles("stream_geofence_in") == staged)
    assert(fmgws.nonEmpty && tws == fmgws)
  }

  test("stageOnce clears a torn dir, stages once, then reuses") {
    import graft.core.Tmp
    val dirs = Seq("a", "b").map(k => Tmp.jvmScopedDir("spec_stage_once", k))
    dirs.foreach(Tmp.deleteRecursively)
    new java.io.File(dirs(1)).mkdirs()
    val stray = new java.io.File(dirs(1), "stray.parquet")
    java.nio.file.Files.createFile(stray.toPath)
    val logged = scala.collection.mutable.Buffer.empty[String]
    var runs = 0
    def stage(): Unit = Ext.stageOnce(logged += _, dirs: _*) {
      runs += 1
      dirs.foreach(d => assert(Option(new java.io.File(d).list()).exists(_.isEmpty)))
      java.nio.file.Files.createFile(new java.io.File(dirs(1), "f0.parquet").toPath)
    }
    stage()
    stage()
    assert(runs == 1 && !stray.exists())
    assert(new java.io.File(dirs(1), "f0.parquet").exists())
    assert(logged == Seq("staged input", "reusing staged input"))
    dirs.foreach(Tmp.deleteRecursively)
  }

  test("stream writes and mtime staging live only in the sink harness") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val defDecl = """(?m)^\s*(?:private(?:\[\w+\])?\s+)?def\s+(\w+)""".r
    val sources = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).toSeq
    def enclosingDefs(word: String): Set[String] = sources.flatMap { src =>
      word.r.findAllMatchIn(src).map { m =>
        defDecl.findAllMatchIn(src.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("<top level>")
      }
    }.toSet
    assert(enclosingDefs("writeStream") == Set("runStreamToParquet"))
    assert(enclosingDefs("setLastModified") == Set("stageMtimeFile"))
    assert(sources.map("_graft_staged".r.findAllMatchIn(_).size).sum == 1)
    assert(sources.forall(!_.contains("_SUCCESS")))
    // keyed state machines run only through StreamOps' two drivers
    def count(pattern: String) = sources.map(pattern.r.findAllMatchIn(_).size).sum
    assert(count("""\.flatMapGroupsWithState\b""") == 1)
    assert(count("""\.transformWithState\b""") == 1)
    assert(count("""extends\s+StatefulProcessor\b""") == 1)
  }

  test("stream_interval_join_sink reproduces the batch interval join") {
    val got = Ext.all("stream_interval_join_sink")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val ev = graft.core.Tables.eventsTsUs(spark, sf0001)
    def side(kind: String, p: String) =
      ev.filter(col("event_type") === kind)
        .select(col("user_id").as(s"${p}_user"), col("ts_us").as(s"${p}_ts"),
          col("event_id").as(s"${p}_id"))
    val W = 600000000L
    val want = side("click", "l").join(side("error", "r"),
        expr(s"l_user = r_user AND r_ts BETWEEN l_ts - $W AND l_ts + $W"))
      .select(col("l_id").as("click_id"), col("l_user").as("user_id"),
        col("r_id").as("err_id"), (col("r_ts") - col("l_ts")).as("dt_us"))
      .orderBy(col("click_id"), col("err_id"))
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty, "no in-window click×error pairs at sf0.001")
    assert(got == want, s"stream=$got batch=$want")
  }

  test("stream_tumbling_sink reproduces the batch hourly rollup completely") {
    val winUs = 3600000000L
    val got = Ext.all("stream_tumbling_sink")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val want = graft.core.Tables.eventsTsUs(spark, sf0001)
      .groupBy(col("user_id"),
        (expr(s"ts_us div $winUs") * winUs).as("window_start_us"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("event_id").cast("double")), 2).as("value_sum"))
      .orderBy(col("user_id"), col("window_start_us"))
      .collect().map(_.toString).toSeq
    // completeness is the point: EVERY window must have been closed by the
    // sentinel watermark choreography, not just the early ones
    assert(got.nonEmpty && got == want,
      s"stream emitted ${got.size} windows, batch has ${want.size}")
  }

  test("stream_ohlc_sink reproduces the batch OHLC selection on every window") {
    val winUs = 3600000000L
    val got = Ext.all("stream_ohlc_sink")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("window_start_us"))
      .orderBy(col("ts_us"), col("event_id"))
    val want = graft.core.Tables.eventsTsUs(spark, sf0001)
      .select(col("event_type"),
        (expr(s"ts_us div $winUs") * winUs).as("window_start_us"),
        col("ts_us"), col("event_id"), col("value"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("nn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"), col("window_start_us"))))
      .groupBy(col("event_type"), col("window_start_us"))
      .agg(max(when(col("rn") === 1, col("value"))).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max(when(col("rn") === col("nn"), col("value"))).as("close"),
        count(lit(1)).as("n"), sum(col("cents")).as("volume_cents"))
      .orderBy(col("event_type"), col("window_start_us"))
      .collect().map(_.toString).toSeq
    // the min_by/max_by fold must equal the batch row-number selection
    // on EVERY closed window, ties included
    assert(got.nonEmpty && got == want,
      s"stream emitted ${got.size} candles, batch has ${want.size}")
  }

  test("stream_topk_sink: landed-then-ranked leaderboard equals the batch top-3 per hour") {
    val winUs = 3600000000L
    val got = Ext.all("stream_topk_sink")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start_us"))
      .orderBy(col("n_events").desc, col("event_type"))
    val want = graft.core.Tables.eventsTsUs(spark, sf0001)
      .groupBy((expr(s"ts_us div $winUs") * winUs).as("window_start_us"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("window_start_us"), col("rank"), col("event_type"),
        col("n_events"))
      .orderBy(col("window_start_us"), col("rank"))
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want,
      s"stream leaderboard has ${got.size} rows, batch has ${want.size}")
    // every finalized window carries a contiguous rank prefix
    val byWin = Ext.all("stream_topk_sink")(spark, sf0001).collect()
      .groupBy(_.getLong(0))
    byWin.values.foreach { rs =>
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to rs.length))
    }
  }

  test("stream_asof_sink reproduces the batch as-of exec on every probe") {
    graft.plans.GraftExtensions.ensureStrategies(spark)
    val got = Ext.all("stream_asof_sink")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val ev = graft.core.Tables.eventsTsUs(spark, sf0001)
    val sgn = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("event_id")).as("s_event"))
      .select(col("user_id").as("s_user"), col("ts_us").as("s_ts0"),
        col("s_event"))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"))
    val want = graft.plans.AsOfJoinApi
      .asofJoin(pur, sgn, "user_id", "s_user", "ts_us", "s_ts0")
      .select(col("event_id").as("p_event"), col("user_id"),
        col("ts_us").as("p_ts"),
        coalesce(col("s_ts0"), lit(-1L)).as("s_ts"),
        coalesce(col("s_event"), lit(-1L)).as("s_event"))
      .orderBy(col("p_event"))
      .collect().map(_.toString).toSeq
    // completeness again: the sentinel ladder + timers must flush EVERY
    // probe, and each match must equal the custom batch exec's
    assert(got.nonEmpty && got == want,
      s"stream emitted ${got.size} probes, batch has ${want.size}")
  }

  test("checkpoint recovery: restarted tumbling agg restores state, emits each window exactly once") {
    // the production property the per-run harnesses never exercise
    // (they clear their checkpoints): a stateful stream stopped mid-feed
    // and RESTARTED from its checkpoint must (a) not reprocess consumed
    // input, (b) restore the partial window state, (c) emit each closed
    // window exactly once across the two runs.
    import graft.core.Tmp
    import sqlImplicits._
    val inDir = Tmp.jvmScopedDir("spec_recover_in", "x")
    val ckDir = Tmp.jvmScopedDir("spec_recover_ck", "x")
    val outDir = Tmp.jvmScopedDir("spec_recover_out", "x")
    Seq(inDir, ckDir, outDir).foreach(Tmp.deleteRecursively)
    new java.io.File(inDir).mkdirs()
    // epoch-aligned hour windows: minutes 6000–6060 form one window
    def stage(name: String, minutes: Seq[Long]): Unit =
      stagePartFile(minutes.map(m => (1L, m * 60L * 1000000L, 1.0))
        .toDF("user_id", "ts_us", "value"), inDir, name)
    def runOnce(): Unit = runAvailableNow(outDir, ckDir) {
      val stream = spark.readStream
        .schema("user_id BIGINT, ts_us BIGINT, value DOUBLE")
        .parquet(inDir)
        .withColumn("t", timestamp_micros(col("ts_us")))
      graft.streaming.StreamOps.tumblingCounts(stream, "1 hour")
    }
    // run 1: two events in the hour-100 window; watermark (max−10min =
    // 6005) stays below the window end → nothing may emit
    stage("f0.parquet", Seq(6010, 6015))
    runOnce()
    // run 2, RESTARTED from the checkpoint: one more hour-100 event
    // (joins the RESTORED partial state) + a far-future watermark driver
    stage("f1.parquet", Seq(6030, 6600))
    runOnce()
    val got = spark.read.parquet(outDir)
      .select(col("user_id"), col("window_start_us"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 6000L * 60L * 1000000L, 3L)),
      s"expected ONE hour-100 window with the restored count 3, got $got")
    Seq(inDir, ckDir, outDir).foreach(Tmp.deleteRecursively)
  }

  test("checkpoint recovery: custom as-of state (AsOfBuffer + timers) survives a restart") {
    // same restart property for the CUSTOM stateful operator: the
    // case-class AsOfBuffer state and the pending probe's event-time
    // timer must roundtrip the checkpoint — run 1 buffers a build and a
    // not-yet-final probe; the restarted run only advances the
    // watermark, so the match can only come from restored state.
    import graft.core.Tmp
    import sqlImplicits._
    val pDir = Tmp.jvmScopedDir("spec_asof_rec_p", "x")
    val bDir = Tmp.jvmScopedDir("spec_asof_rec_b", "x")
    val ckDir = Tmp.jvmScopedDir("spec_asof_rec_ck", "x")
    val outDir = Tmp.jvmScopedDir("spec_asof_rec_out", "x")
    Seq(pDir, bDir, ckDir, outDir).foreach(Tmp.deleteRecursively)
    Seq(pDir, bDir).foreach(d => new java.io.File(d).mkdirs())
    def stage(dir: String, name: String, rows: Seq[(Long, Long, Long)]): Unit =
      stagePartFile(rows.map { case (u, m, id) =>
        (u, new java.sql.Timestamp(m * 60L * 1000L), m * 60L * 1000000L, id) }
        .toDF("user_id", "t", "ts_us", "ref_id"), dir, name)
    def runOnce(): Unit = runAvailableNow(outDir, ckDir) {
      def rd(path: String) = spark.readStream
        .schema("user_id BIGINT, t TIMESTAMP, ts_us BIGINT, ref_id BIGINT")
        .parquet(path)
      graft.streaming.StreamOps
        .asofJoinStream(rd(pDir), rd(bDir), "10 minutes")
        .toDF()
    }
    // run 1: build @6010 and probe @6015 for user 1 — watermark ends at
    // 6005, the probe is NOT final and must be buffered, not emitted
    stage(bDir, "b0.parquet", Seq((1L, 6010L, 100L)))
    stage(pDir, "p0.parquet", Seq((1L, 6015L, 200L)))
    runOnce()
    // run 2, restarted: only a far-future sentinel build on key −1 —
    // the watermark walks past the probe and the restored state must
    // produce exactly the buffered match
    stage(bDir, "b1.parquet", Seq((-1L, 6600L, -1L)))
    runOnce()
    val got = spark.read.parquet(outDir)
      .select(col("user_id"), col("probe_id"), col("build_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 200L, 100L)),
      s"expected the restored-state match (1,200,100) exactly once, got $got")
    Seq(pDir, bDir, ckDir, outDir).foreach(Tmp.deleteRecursively)
  }

  test("checkpoint recovery: funnel progress and pending buffer survive a restart") {
    // run 1 completes stage 1 (view final under the watermark) and
    // BUFFERS a not-yet-final click; the restarted run only advances the
    // watermark via a sentinel — stage 2 can only come from restored
    // state, and stage 1 must NOT re-emit (tombstoned progress).
    import graft.core.Tmp
    import sqlImplicits._
    val inDir = Tmp.jvmScopedDir("spec_funnel_rec_in", "x")
    val ckDir = Tmp.jvmScopedDir("spec_funnel_rec_ck", "x")
    val outDir = Tmp.jvmScopedDir("spec_funnel_rec_out", "x")
    Seq(inDir, ckDir, outDir).foreach(Tmp.deleteRecursively)
    new java.io.File(inDir).mkdirs()
    def stage(name: String, rows: Seq[(Long, Long, Long, Int)]): Unit =
      stagePartFile(rows.map { case (u, m, id, k) =>
        (u, new java.sql.Timestamp(m * 60L * 1000L), m * 60L * 1000000L, id, k) }
        .toDF("user_id", "t", "ts_us", "event_id", "kind"), inDir, name)
    def runOnce(): Unit = runAvailableNow(outDir, ckDir) {
      val in = spark.readStream
        .schema("user_id BIGINT, t TIMESTAMP, ts_us BIGINT, event_id BIGINT, kind INT")
        .parquet(inDir)
        .as[graft.streaming.StreamOps.FunnelEvent]
      graft.streaming.StreamOps.funnelStream(in, "10 minutes").toDF()
    }
    // run 1: view @6000 (finalized by the click@6020 advancing the
    // watermark to 6010) emits stage 1; the click itself stays pending
    stage("f0.parquet", Seq((1L, 6000L, 1L, 1), (1L, 6020L, 2L, 2)))
    runOnce()
    // run 2, restarted: sentinel walks the watermark past the click —
    // stage 2 must emerge from the RESTORED pending buffer + progress
    stage("f1.parquet", Seq((-1L, 7000L, -1L, 0)))
    runOnce()
    val got = spark.read.parquet(outDir).filter(col("user_id") >= 0)
      .select(col("stage"), col("ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 6000L * 60L * 1000000L), (2L, 6020L * 60L * 1000000L)),
      s"expected stages 1 and 2 exactly once across the restart, got $got")
    Seq(inDir, ckDir, outDir).foreach(Tmp.deleteRecursively)
  }

  test("checkpoint recovery: EWMA frame tail AND pending buffer survive a restart") {
    // run 1 finalizes ping A (cents 4 → num 4/den 1) and BUFFERS ping B;
    // the restarted run only advances the watermark — B's frame must be
    // [4, 2] (num 4·1 + 2·2 = 8, den 3), which requires BOTH the
    // restored pending buffer (B itself) and the restored tail (A's 4).
    import graft.core.Tmp
    import sqlImplicits._
    val inDir = Tmp.jvmScopedDir("spec_ewma_rec_in", "x")
    val ckDir = Tmp.jvmScopedDir("spec_ewma_rec_ck", "x")
    val outDir = Tmp.jvmScopedDir("spec_ewma_rec_out", "x")
    Seq(inDir, ckDir, outDir).foreach(Tmp.deleteRecursively)
    new java.io.File(inDir).mkdirs()
    def stage(name: String, rows: Seq[(Long, Long, Long, Long)]): Unit =
      stagePartFile(rows.map { case (u, m, id, c) =>
        (u, new java.sql.Timestamp(m * 60L * 1000L), m * 60L * 1000000L, id, c) }
        .toDF("user_id", "t", "ts_us", "event_id", "cents"), inDir, name)
    def runOnce(): Unit = runAvailableNow(outDir, ckDir) {
      val in = spark.readStream
        .schema("user_id BIGINT, t TIMESTAMP, ts_us BIGINT, " +
          "event_id BIGINT, cents BIGINT")
        .parquet(inDir)
        .as[graft.streaming.StreamOps.EwmaPing]
      graft.streaming.StreamOps.ewmaStream(in, "10 minutes").toDF()
    }
    stage("f0.parquet", Seq((1L, 6000L, 1L, 4L), (1L, 6020L, 2L, 2L)))
    runOnce()
    stage("f1.parquet", Seq((-1L, 7000L, -1L, 0L)))
    runOnce()
    val got = spark.read.parquet(outDir).filter(col("user_id") >= 0)
      .select(col("ts_us"), col("num"), col("den"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(got == Seq(
      (6000L * 60L * 1000000L, 4L, 1L),
      (6020L * 60L * 1000000L, 8L, 3L)),
      s"expected the restored tail to feed B's frame exactly once, got $got")
    Seq(inDir, ckDir, outDir).foreach(Tmp.deleteRecursively)
  }
}
