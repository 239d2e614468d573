package graft

/** Driver-run benchmark: every SparkEntry query timed at
  * SPARK_GRAFT_SF_DIR, one JSON line to stdout AND to a known file.
  *
  * Measurement discipline (round-2/3 verdict items):
  *  - queries run in SORTED name order — per-query numbers are comparable
  *    across rounds (a HashMap walk made round-1 order, and thus which
  *    query absorbed JVM warmup, nondeterministic);
  *  - one untimed warmup action first (JIT + codegen + parquet footer
  *    caches), so the first timed query isn't charged for JVM startup;
  *  - the dedup ladder's shared pair relation is staged EXPLICITLY as its
  *    own timed entry (`_dedup_stage`, sorts first) instead of being
  *    silently absorbed by whichever dedup query runs first
  *    alphabetically — round 2's `dedup_apply` was bimodal (6 s builder /
  *    49 s driver) precisely because it paid shingle mining + pair join +
  *    components + anti-join in one opaque timed block. The stage cost
  *    stays in the total (nothing is hidden); it is just attributed.
  *  - per-query PROCESS CPU seconds ride along in `cpu_queries` (plus
  *    `cpu_total` / `load_avg_end`): wall inflating while CPU stays flat
  *    is machine contention, not a plan regression — the r3 drift
  *    question becomes answerable from the artifact alone;
  *  - the JSON line is also written to `SPARK_GRAFT_BENCH_OUT` (default
  *    /tmp/graft_bench.json) and printed with a `GRAFT_BENCH_JSON:`
  *    prefix — round 1/2 artifacts show the bare stdout line drowned in
  *    sbt noise and the driver recorded `"parsed": null`.
  */
object Bench {

  private val calibSink = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Fixed-work hardware calibration (round 7): the same artifact totals
    * moved ~3× between rounds with IDENTICAL code and data because the
    * per-core speed of the benchmarking VM changed. A deterministic
    * 250M-step integer-mixing loop — pure ALU, no allocation, no memory
    * traffic — is timed once single-threaded (`calib_st_sec`) and once as
    * `threads` concurrent copies (`calib_mt_sec`, = per-thread wall when
    * every core runs the same fixed work). Cross-round ratio of these
    * fields IS the hardware factor; dividing the totals by it makes
    * rounds comparable from the artifacts alone. */
  private def calibrate(threads: Int): (Double, Double) = {
    val N = 250_000_000L
    def burn(n: Long, seed: Long): Long = {
      var x = seed | 1L; var i = 0L
      while (i < n) {
        x = java.lang.Long.rotateLeft(x * 0x9E3779B97F4A7C15L, 31) ^ i
        i += 1
      }
      x
    }
    calibSink.addAndGet(burn(N / 10, 42L)): Unit // JIT warmup
    var t0 = System.nanoTime()
    calibSink.addAndGet(burn(N, 42L)): Unit
    val st = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val ts = (0 until threads).map { k =>
      val th = new Thread(() => calibSink.addAndGet(burn(N, k + 1L)): Unit)
      th.start(); th
    }
    ts.foreach(_.join())
    val mt = (System.nanoTime() - t0) / 1e9
    // the AtomicLong sink defeats dead-code elimination of the loops
    if (calibSink.get() == Long.MinValue) System.err.println("[bench] calib")
    (st, mt)
  }

  /** Memory-BANDWIDTH calibration (round 10): the ALU-only probe above
    * is blind to co-tenant memory-bus contention — the r10 sf1g record
    * showed untouched shuffle/hash-heavy queries at 3-7× their r9 CPU
    * while calib_mt moved 1.2× — so a second probe streams a shared
    * 512 MiB array (4 sequential sweeps ≈ 2 GiB read per thread), once
    * single-threaded and once as `threads` concurrent readers. A
    * memory-degraded window shows calib_mem_mt inflated while
    * calib_mt stays flat; per-query CPU comparisons across rounds
    * should be read against BOTH ratios. */
  private def calibrateMem(threads: Int): (Double, Double) = {
    val n = 64 * 1024 * 1024 // longs = 512 MiB, shared read-only
    val arr = new Array[Long](n)
    var i = 0
    while (i < n) { arr(i) = i.toLong; i += 1 }
    def sweep(): Long = {
      var s = 0L; var k = 0
      while (k < n) { s += arr(k); k += 1 }
      s
    }
    calibSink.addAndGet(sweep()): Unit // warm
    var t0 = System.nanoTime()
    var r = 0
    while (r < 4) { calibSink.addAndGet(sweep()): Unit; r += 1 }
    val st = (System.nanoTime() - t0) / 1e9
    t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      val th = new Thread(() => {
        var q = 0
        while (q < 4) { calibSink.addAndGet(sweep()): Unit; q += 1 }
      })
      th.start(); th
    }
    ts.foreach(_.join())
    val mt = (System.nanoTime() - t0) / 1e9
    (st, mt)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    // calibrate BEFORE the Spark session exists: nothing else is running
    // in the JVM, so the numbers are machine speed, not contention
    val (calibSt, calibMt) = calibrate(math.max(1, cpus.toInt))
    val (calibMemSt, calibMemMt) = calibrateMem(math.max(1, cpus.toInt))
    println(f"GRAFT_BENCH_CALIB: st=$calibSt%.3f s mt=$calibMt%.3f s " +
      f"mem_st=$calibMemSt%.3f s mem_mt=$calibMemMt%.3f s threads=$cpus")
    val spark = graft.core.Sessions.local(cpus)

    // opt-out list for corpus shapes that invalidate a query's cost model
    // (e.g. ScaleUp DENSIFIES the co-purchase graph — same nodes, 10×
    // degree — which grows triangle wedge work quadratically by
    // construction; a true larger corpus grows the node set instead).
    // Exclusions are recorded in the JSON artifact, never silent.
    val excluded = sys.env.get("SPARK_GRAFT_BENCH_EXCLUDE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // a typo'd exclusion silently excludes NOTHING while the operator
    // believes the query was dropped — flag unknown names loudly
    val unknownExcl = excluded.diff(SparkEntry.queries.keySet)
    if (unknownExcl.nonEmpty)
      System.err.println(
        s"[bench] WARNING: excluded names not in the registry (typo?): " +
        unknownExcl.toSeq.sorted.mkString(", "))
    if (excluded.nonEmpty)
      System.err.println(s"[bench] excluding: ${excluded.mkString(", ")}")
    // opt-IN list for targeted probes (r10 verdict stretch #8: the 100×
    // dedup-ladder run benches just that family) — prefix match on ","
    // separated patterns ("dedup_,sim_" keeps both families). Inclusion
    // is recorded in the JSON artifact via the entry list itself.
    val included = sys.env.get("SPARK_GRAFT_BENCH_INCLUDE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty[String])
    if (included.nonEmpty)
      System.err.println(s"[bench] including only: ${included.mkString(", ")}")
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => excluded.contains(n) }
      .filter { case (n, _) =>
        included.isEmpty || included.exists(n.startsWith)
      }
    // codegen compiles per pass (pass 1 counts the warm-up too: it is one
    // of the pass's queries). With a class cache that holds a whole pass
    // (Sessions.codegenReuse), pass 2 compiles only the classes that are
    // fresh on every pass (the streaming sinks', NOTES.md).
    val compiles0 = graft.core.PhaseLog.codegenCompiles()
    // untimed warmup: the flagship aggregate touches parquet scan, shuffle,
    // codegen, and AQE once before anything is timed. Fallback to the first
    // query if the flagship was ever renamed (a swallowed NoSuchElement
    // would silently drop the warmup and re-introduce JVM-startup skew).
    val warm = SparkEntry.queries.get("q1_agg").orElse {
      System.err.println("[bench] warmup query q1_agg missing; using first")
      ordered.headOption.map(_._2)
    }
    try { warm.foreach(
      _(spark, sfDir).write.format("noop").mode("overwrite").save()) }
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }

    // process CPU time alongside wall time: on a contended box wall
    // inflates while CPU stays flat, so the cpu_queries map lets a
    // reader of the artifact distinguish machine-state drift from a
    // plan regression (round-3 verdict: three entries recorded 3–4×
    // their quiet-box wall with no code change — this settles such
    // cases from the artifact itself). local[*] runs executors
    // in-process, so process CPU covers the whole query.
    // the com.sun interface is HotSpot-specific — degrade to cpu=-1
    // rather than crashing Bench on a JVM whose bean doesn't carry it.
    // One shared probe (core.PhaseLog.cpuNanos) serves Bench, PhaseLog
    // and the perfbench harness so the sentinel handling can't drift.
    def cpuNow(): Long = graft.core.PhaseLog.cpuNanos()
    if (cpuNow() < 0)
      System.err.println("[bench] process CPU time unavailable on this JVM")

    case class Timing(name: String, wallSec: Double, cpuSec: Double, ok: Boolean)

    def timed(name: String)(body: => Unit): Timing = {
      val c0 = cpuNow()
      val t0 = System.nanoTime()
      val ok =
        try { body; true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // guard BOTH samples: getProcessCpuTime may transiently return -1
      // mid-run, and (-1 - c0) would masquerade as a huge negative reading
      val c1 = cpuNow()
      val dc = if (c0 < 0 || c1 < 0) -1.0 else (c1 - c0) / 1e9
      // untimed, between queries: with a large fixed heap the JVM may not
      // GC for the whole run, so Spark's ContextCleaner (weak-ref driven)
      // never releases finished queries' shuffle/broadcast state — by the
      // ~50th query the accumulated bookkeeping inflated later queries up
      // to 4x. This is spark.cleaner.periodicGC at bench cadence.
      System.gc()
      Timing(name, dt, dc, ok)
    }

    // explicit, separately-timed staging of the dedup ladder's shared
    // relations (shingles + Jaccard pairs); the dedup_* queries then
    // measure their own work against the staged scratch parquet, the way
    // a real pipeline runs the ladder. The underscore sorts this entry
    // first. In pass 2 the stage entry times only the (near-free) reads
    // of the already-written files.
    // a staging entry only runs when some included query consumes its
    // relations — an INCLUDE-filtered probe (e.g. the 100x geo ladder)
    // must not pay an unrelated family's once-per-corpus build (r12:
    // _graph_stage burned 5,000 CPU-s inside a geo-only ladder)
    def familyIncluded(prefixes: String*): Boolean =
      ordered.exists { case (n, _) => prefixes.exists(n.startsWith) }
    def runPass(): Seq[Timing] =
      Seq(
        ("_dedup_stage", Seq("dedup_", "text_"), () =>
          graft.queries.Ext.stageDedupRelations(spark, sfDir)),
        // the ANN exact-ranking indexes are once-per-corpus builds the
        // recall gates read — attributed here, not to whichever sim_*
        // query touches them first (r10 verdict What's-wrong #2)
        ("_ann_stage", Seq("sim_", "dedup_"), () =>
          graft.queries.Ext.stageAnnIndexes(spark, sfDir)),
        // the graph family's staged relations are once-per-corpus
        // builds (r11 verdict What's-wrong #1) — the co-purchase edge
        // list, shared family-wide, and the per-edge triangle support
        // (the wedge enumeration), gated on its two actual consumers so
        // a probe that excludes them skips the one build whose spill
        // exceeds single-box scratch at 100x
        ("_graph_stage", Seq("graph_"), () =>
          graft.queries.Warehouse.stageGraphRelations(spark, sfDir)),
        ("_graph_tri_stage", Seq("graph_triangles", "graph_edge_jaccard"),
          () => graft.queries.Warehouse.stageTriSupport(spark, sfDir)),
      ).collect { case (name, prefixes, body) if familyIncluded(prefixes: _*) =>
        timed(name)(body())
      } ++ ordered.map { case (name, fn) =>
        // noop SINK, not count() (r11 third session): under count(),
        // Catalyst legally prunes work the query exists to measure —
        // unique-key left joins are ELIMINATED (graph_triangles' entire
        // wedge pipeline: 1.2 s counted vs 27 s forced at 10×), agg
        // value arithmetic is column-pruned, final sorts drop. The noop
        // sink evaluates every output column of every row and discards
        // them — the honest "compute the full result" action. Strictly
        // MORE work than the count() convention of r1–r11 records, so
        // cross-round comparisons against older artifacts overstate any
        // regression.
        timed(name) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
      }

    // TWO full passes in one JVM (round-4 verdict #4): pass 1 is the
    // bench of record (cold plans, staging paid); pass 2 re-runs the
    // identical suite against the warm JVM/staged state — a stable
    // second pass isolates warm-state effects (JIT, codegen caches,
    // staged relations) from plan cost, so a pass-1 outlier with a calm
    // pass-2 twin reads as one-time/environmental, while an entry slow
    // in BOTH passes is a plan problem.
    val results = runPass()
    val compilesP1 = graft.core.PhaseLog.codegenCompiles() - compiles0
    // thread count after EACH pass: equal counts prove the streaming
    // pools don't accumulate per pass (the r5 leak was +32/sink/pass;
    // what remains is Spark's keep-alive-cached block-manager pools,
    // whose idle threads die after 60s — a high-water mark, not growth;
    // ThreadProbe prints the name histogram when this drifts)
    val threadsP1 = Thread.activeCount()
    val results2 = runPass()
    val threadsP2 = Thread.activeCount()
    val compilesP2 = graft.core.PhaseLog.codegenCompiles() - compiles0 - compilesP1
    // second calibration AFTER both passes: the host's speed has been
    // observed to move ~2× WITHIN a session, so a start-only sample can
    // misattribute mid-run contention. start≈end ⇒ the totals were
    // measured on a steady machine; start≪end ⇒ read the totals with the
    // artifact's own salt.
    val (calibSt2, calibMt2) = calibrate(math.max(1, cpus.toInt))
    val (calibMemSt2, calibMemMt2) = calibrateMem(math.max(1, cpus.toInt))

    def dict(rs: Seq[Timing], f: Timing => Double): String =
      rs.map(t => s"\"" + t.name + "\":" + f(t)).mkString("{", ",", "}")
    // per-pass error arrays: merging them hid whether a failure was
    // pass-2-only (warm-state problem) or pass-1 (cold-plan problem)
    def errList(rs: Seq[Timing]): String =
      rs.collect { case t if !t.ok => "\"" + t.name + "\"" }.mkString("[", ",", "]")
    val errs = errList(results)
    val errs2 = errList(results2)
    val total = results.map(_.wallSec).sum
    val total2 = results2.map(_.wallSec).sum
    // keep the single -1 "unavailable" sentinel — summing the per-query
    // sentinels would emit ≈ -(entry count), which reads like data (and
    // getProcessCpuTime may return -1 even when the bean exists)
    def cpuSum(rs: Seq[Timing]): Double =
      if (rs.exists(_.cpuSec < 0)) -1.0
      else rs.map(_.cpuSec).sum
    // load average is on the PLATFORM bean (not the com.sun extension)
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    // COMPACT summary lines first, then the JSON line LAST in stdout
    // (round-7 verdict #3, third attempt at r6 #3). r10 contract update:
    // the line now appears TWICE — once in normal flow below and once
    // re-emitted by a JVM shutdown hook so the LAST occurrence survives
    // any teardown logging; consumers must take the last complete
    // occurrence (both copies are identical and ≤ ~1.5 KB):
    // the driver keeps a bounded END-anchored tail of stdout, and r7's
    // tail still started mid-JSON because the line was printed twice with
    // summary lines AFTER it. Last + small (top-5 dicts, ≤ ~1.5 KB)
    // means the complete JSON always survives the tail bound.
    def top(rs: Seq[Timing], f: Timing => Double, n: Int): String =
      rs.sortBy(t => -f(t)).take(n)
        .map(t => f"${t.name}=${f(t)}%.2f").mkString(",")
    println(f"GRAFT_BENCH_SUMMARY: total=$total%.2f s pass2=$total2%.2f s " +
      f"entries=${results.size} cpu=${cpuSum(results)}%.2f s load_end=$loadAvg%.2f " +
      f"threads=${Thread.activeCount()} threads_p1=$threadsP1 threads_p2=$threadsP2 " +
      f"compiles_p1=$compilesP1 compiles_p2=$compilesP2 " +
      f"calib_st=$calibSt%.3f calib_mt=$calibMt%.3f " +
      f"calib_end_st=$calibSt2%.3f calib_end_mt=$calibMt2%.3f " +
      f"calib_mem_st=$calibMemSt%.3f calib_mem_mt=$calibMemMt%.3f " +
      f"calib_mem_end_st=$calibMemSt2%.3f calib_mem_end_mt=$calibMemMt2%.3f")
    println(s"GRAFT_BENCH_TOP_WALL: ${top(results, _.wallSec, 10)}")
    println(s"GRAFT_BENCH_TOP_CPU: ${top(results, _.cpuSec, 10)}")
    println(s"GRAFT_BENCH_TOP_WALL_2ND: ${top(results2, _.wallSec, 10)}")
    // end-of-run thread-name histogram (round-6 verdict #4): the absolute
    // high-water is Spark pool sizing, not growth — the histogram in the
    // bench tail names the pools so a drift is diagnosable from artifacts
    ThreadProbe.printTop("bench_end")

    // "action" stamps the timing convention into the artifact: r1–r11
    // records were count()-actioned (Catalyst could prune work), r11+
    // records are noop-sink actioned (every output column evaluated) —
    // cross-era comparisons must read this field (ADVICE r11)
    // which persistent graft_index_* generations THIS process built vs
    // found published (r12 verdict What's-wrong #5): pass-1 totals
    // depend on it, so the artifact must say whether pass-1 was cold
    def strList(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val shared =
      s""""action":"noop","cpu_total":${cpuSum(results)},"total_2nd":$total2,"cpu_total_2nd":${cpuSum(results2)},"n_entries":${results.size},"load_avg_end":$loadAvg,"calib_st_sec":$calibSt,"calib_mt_sec":$calibMt,"calib_end_st_sec":$calibSt2,"calib_end_mt_sec":$calibMt2,"calib_mem_st_sec":$calibMemSt,"calib_mem_mt_sec":$calibMemMt,"calib_mem_end_st_sec":$calibMemSt2,"calib_mem_end_mt_sec":$calibMemMt2,"errors":$errs,"errors_2nd":$errs2,"excluded":${strList(excluded.toSeq.sorted)},"index_built":${strList(graft.core.IndexEvents.built)},"index_reused":${strList(graft.core.IndexEvents.reused)},"sf":"$sfDir""""
    // the stdout line carries the FULL per-query wall + CPU maps for both
    // passes (r12 verdict Next #1): the ≤1.5 KB top-5 digest left every
    // consumer of the stdout artifact per-query-blind for twelve rounds —
    // the full maps are a few tens of KB, still one line, and the
    // once-and-last contract below is unchanged. The same JSON goes to
    // the artifact file.
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${dict(results, _.wallSec)},"cpu_queries":${dict(results, _.cpuSec)},"queries_2nd":${dict(results2, _.wallSec)},"cpu_queries_2nd":${dict(results2, _.cpuSec)},$shared,"full":"$outPath"}"""
    val json = fullJson
    // the full JSON goes to BOTH the configured artifact path and a
    // REPO-ROOT file (r12 verdict Next #1's second half): /tmp is not
    // retained by the driver, and its bounded stdout tail (2,000 chars
    // in every BENCH_r*.json artifact) cannot hold the full maps — the
    // working-directory copy survives with the workspace either way.
    for (p <- Seq(outPath, "BENCH_FULL_LAST_RUN.json"))
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), fullJson + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    // stop() before the JSON so its shutdown logging can't trail the line
    // on stdout — but guarded: a teardown failure must not eat the one
    // machine-parsed line after all the work already completed (ADVICE r8)
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop() failed: ${e.getMessage}")
    }
    // NOTHING may print after this line. Contract (aligned with
    // build.sbt): GRAFT_BENCH_JSON appears on stdout exactly ONCE and
    // LAST — unless some library's shutdown logging trails it, in which
    // case a guarded JVM shutdown hook re-emits it so the LAST complete
    // occurrence is still the JSON line (r9 verdict missing #1; ADVICE
    // r10 — the hook previously re-emitted unconditionally, breaking
    // the once-only half of the contract). The guard: after the normal
    // println, System.out is swapped for a tripwire stream; the hook
    // re-prints only if any bytes were written through it since.
    val trailed = new java.util.concurrent.atomic.AtomicBoolean(false)
    println(s"GRAFT_BENCH_JSON: $json")
    System.out.flush()
    val realOut = System.out
    System.setOut(new java.io.PrintStream(new java.io.OutputStream {
      override def write(b: Int): Unit = { trailed.set(true); realOut.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        if (len > 0) trailed.set(true); realOut.write(b, off, len)
      }
      override def flush(): Unit = realOut.flush()
    }, true))
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (trailed.get()) {
        realOut.println(s"GRAFT_BENCH_JSON: $json")
        realOut.flush()
      }
    }))
  }
}
