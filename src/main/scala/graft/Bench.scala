package graft

/** Driver-run benchmark: every SparkEntry query timed at
  * SPARK_GRAFT_SF_DIR, a JSON digest as the last stdout line and the
  * full JSON to a known file.
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
  *  - the full JSON (every entry's wall and CPU for both passes) goes to
  *    `SPARK_GRAFT_BENCH_OUT` (default /tmp/graft_bench.json) and to
  *    `BENCH_FULL_LAST_RUN.json`; the last stdout line is a bare JSON
  *    digest of at most 1.5 KB ([[lastLine]]).
  */
object Bench {

  /** One timed entry: a registry query or a staging step. */
  private[graft] final case class Timing(
    name: String, wallSec: Double, cpuSec: Double, ok: Boolean)

  /** The last stdout line: a bare JSON object of at most 1.5 KB with the
    * registry's names (`BenchSpec` checks the worst case), so that a
    * consumer keeping only a 2,000-char tail of the output still parses
    * it. It holds the two pass totals, the calibration (`calib` keys, in
    * seconds), the error counts with the first 10 failed names, each
    * pass's top 10 entries by wall, the codegen compiles per pass and the
    * number of persistent indexes built and reused. The per-entry maps
    * are in the full JSON file only. */
  private[graft] def lastLine(
      pass1: Seq[Timing], pass2: Seq[Timing], calib: Seq[(String, Double)],
      compilesP1: Long, compilesP2: Long,
      indexBuilt: Int, indexReused: Int): String = {
    def num(x: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, x)
    def top(rs: Seq[Timing]): String =
      obj(rs.sortBy(-_.wallSec).take(10).map(t => t.name -> num(t.wallSec)))
    obj(Seq(
      "metric" -> str("total"),
      "value" -> num(pass1.map(_.wallSec).sum),
      "unit" -> str("sec"),
      "total_2nd" -> num(pass2.map(_.wallSec).sum),
      "calib_sec" -> obj(calib.map { case (k, v) => k -> num(v) }),
      "n_entries" -> pass1.size.toString,
      "n_errors" -> pass1.count(!_.ok).toString,
      "n_errors_2nd" -> pass2.count(!_.ok).toString,
      "first_errors" -> list(failed(pass1 ++ pass2).distinct.take(10)),
      "top_wall" -> top(pass1),
      "top_wall_2nd" -> top(pass2),
      "compiles_p1" -> compilesP1.toString,
      "compiles_p2" -> compilesP2.toString,
      "n_index_built" -> indexBuilt.toString,
      "n_index_reused" -> indexReused.toString))
  }

  // JSON building blocks; names and paths here carry no quote, backslash
  // or control character
  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  private def str(s: String): String = "\"" + s + "\""
  private def list(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
  private def failed(rs: Seq[Timing]): Seq[String] = rs.filterNot(_.ok).map(_.name)

  /** Live threads by name, digits folded to `#`: the bench-end audit that
    * names the pools behind a thread-count drift. */
  private def printThreads(tag: String): Unit = {
    val t = new Array[Thread](Thread.activeCount() * 2 + 16)
    val h = t.take(Thread.enumerate(t))
      .groupBy(_.getName.replaceAll("[0-9]+", "#"))
      .view.mapValues(_.length).toMap
    println(s"[probe] $tag total=${h.values.sum}")
    h.toSeq.sortBy(-_._2).take(12).foreach { case (k, v) =>
      println(f"[probe]   $v%4d  $k")
    }
  }

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
    val cpus = graft.core.Sessions.cpus
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    // calibrate BEFORE the Spark session exists: nothing else is running
    // in the JVM, so the numbers are machine speed, not contention
    val (calibSt, calibMt) = calibrate(math.max(1, cpus.toInt))
    val (calibMemSt, calibMemMt) = calibrateMem(math.max(1, cpus.toInt))
    println(f"GRAFT_BENCH_CALIB: st=$calibSt%.3f s mt=$calibMt%.3f s " +
      f"mem_st=$calibMemSt%.3f s mem_mt=$calibMemMt%.3f s threads=$cpus")
    val spark = graft.core.Sessions.local(cpus)

    // opt-out list for corpus shapes that invalidate a query's cost model
    // (e.g. `Cli scaleup` DENSIFIES the co-purchase graph — same nodes, 10×
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
    // the bench-end name histogram shows when this drifts)
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

    // readable summary lines first; the JSON digest is the LAST stdout
    // line (see the shutdown hook below)
    val calib = Seq(
      "st" -> calibSt, "mt" -> calibMt, "end_st" -> calibSt2, "end_mt" -> calibMt2,
      "mem_st" -> calibMemSt, "mem_mt" -> calibMemMt,
      "mem_end_st" -> calibMemSt2, "mem_end_mt" -> calibMemMt2)
    println(f"GRAFT_BENCH_SUMMARY: total=$total%.2f s pass2=$total2%.2f s " +
      f"entries=${results.size} cpu=${cpuSum(results)}%.2f s load_end=$loadAvg%.2f " +
      f"threads=${Thread.activeCount()} threads_p1=$threadsP1 threads_p2=$threadsP2 " +
      f"compiles_p1=$compilesP1 compiles_p2=$compilesP2 " +
      calib.map { case (k, v) => f"calib_$k=$v%.3f" }.mkString(" "))
    // the top 10 by wall of each pass are in the JSON digest
    println("GRAFT_BENCH_TOP_CPU: " + results.sortBy(-_.cpuSec).take(10)
      .map(t => f"${t.name}=${t.cpuSec}%.2f").mkString(","))
    // end-of-run thread-name histogram (round-6 verdict #4): the absolute
    // high-water is Spark pool sizing, not growth — the histogram in the
    // bench tail names the pools so a drift is diagnosable from artifacts
    printThreads("bench_end")

    // "action" stamps the timing convention into the artifact: r1–r11
    // records were count()-actioned (Catalyst could prune work), r11+
    // records are noop-sink actioned (every output column evaluated) —
    // cross-era comparisons must read this field (ADVICE r11)
    // which persistent graft_index_* generations THIS process built vs
    // found published (r12 verdict What's-wrong #5): pass-1 totals
    // depend on it, so the artifact must say whether pass-1 was cold
    def perEntry(rs: Seq[Timing], f: Timing => Double): String =
      obj(rs.map(t => t.name -> f(t).toString))
    // the full per-entry wall + CPU maps of both passes, a few tens of KB;
    // per-pass error arrays: merging them hid whether a failure was
    // pass-2-only (warm-state problem) or pass-1 (cold-plan problem)
    val fullJson = obj(Seq(
      "metric" -> str("total"), "value" -> total.toString, "unit" -> str("sec"),
      "queries" -> perEntry(results, _.wallSec),
      "cpu_queries" -> perEntry(results, _.cpuSec),
      "queries_2nd" -> perEntry(results2, _.wallSec),
      "cpu_queries_2nd" -> perEntry(results2, _.cpuSec),
      "action" -> str("noop"), "cpu_total" -> cpuSum(results).toString,
      "total_2nd" -> total2.toString, "cpu_total_2nd" -> cpuSum(results2).toString,
      "n_entries" -> results.size.toString, "load_avg_end" -> loadAvg.toString) ++
      calib.map { case (k, v) => s"calib_${k}_sec" -> v.toString } ++ Seq(
      "errors" -> list(failed(results)), "errors_2nd" -> list(failed(results2)),
      "excluded" -> list(excluded.toSeq.sorted),
      "index_built" -> list(graft.core.IndexEvents.built),
      "index_reused" -> list(graft.core.IndexEvents.reused),
      "sf" -> str(sfDir), "full" -> str(outPath)))
    val json = lastLine(results, results2, calib, compilesP1, compilesP2,
      graft.core.IndexEvents.built.size, graft.core.IndexEvents.reused.size)
    // the full JSON goes to BOTH the configured artifact path and a
    // working-directory file: /tmp may not be kept, and a 2,000-char
    // stdout tail cannot hold the full maps.
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
    // build.sbt): the JSON digest appears on stdout exactly ONCE and
    // LAST — unless some library's shutdown logging trails it, in which
    // case a guarded JVM shutdown hook re-emits it so the LAST complete
    // occurrence is still the JSON line (r9 verdict missing #1; ADVICE
    // r10 — the hook previously re-emitted unconditionally, breaking
    // the once-only half of the contract). The guard: after the normal
    // println, System.out is swapped for a tripwire stream; the hook
    // re-prints only if any bytes were written through it since.
    val trailed = new java.util.concurrent.atomic.AtomicBoolean(false)
    println(json)
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
        realOut.println(json)
        realOut.flush()
      }
    }))
  }
}
