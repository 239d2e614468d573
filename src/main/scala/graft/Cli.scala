package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.core.{PhaseLog, Sessions}

/** Developer command line, one session per invocation
  * (`SPARK_GRAFT_CPUS` threads, [[Sessions.local]]):
  * {{{
  * runMain graft.Cli explain <sfDir> <outDir> [name…]
  * runMain graft.Cli run     <sfDir> <name> [reps]
  * runMain graft.Cli scaleup <srcSfDir> <outDir> [factor] [grow-parts]
  * }}}
  * A command whose work fails exits 1 and names what failed. */
object Cli {

  def main(args: Array[String]): Unit = {
    // each command returns the names it failed on
    val command: SparkSession => Seq[String] = args.toList match {
      case "explain" :: sfDir :: outDir :: names =>
        explain(_, sfDir, outDir, names)
      case "run" :: sfDir :: name :: reps =>
        spark => { run(spark, sfDir, name, reps.headOption.fold(2)(_.toInt)); Nil }
      case "scaleup" :: src :: out :: rest =>
        spark => {
          scaleUp(spark, src, out, rest.headOption.fold(10)(_.toInt),
            rest.lift(1).contains("grow-parts"))
          Nil
        }
      case _ =>
        System.err.println("usage: graft.Cli explain <sfDir> <outDir> [name…] | " +
          "run <sfDir> <name> [reps] | scaleup <srcSfDir> <outDir> [factor] [grow-parts]")
        sys.exit(2)
    }
    val spark = Sessions.local(Sessions.cpus)
    val failed = try command(spark) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[cli] FAILED: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** Writes each query's formatted physical plan to `<outDir>/<name>.txt`
    * (every registered query when `names` is empty). A name that is not
    * registered or whose plan fails is reported on stderr and skipped;
    * returns those names. */
  def explain(spark: SparkSession, sfDir: String, outDir: String,
              names: Seq[String]): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    val all = if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names
    all.filterNot { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
        println(s"[explain] wrote $name")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
        false
      }
    }
  }

  /** Runs one query `reps` times in this session: the first rep shows the
    * cold cost (codegen, JIT), later reps the warm cost. Each rep writes
    * to the noop sink, as [[Bench]] does (a `count()` lets Catalyst prune
    * the work being timed), then prints its [[PhaseLog]] line (wall, cpu,
    * gc, compiles), its process CPU split by thread group
    * ([[ThreadCpu]]), its job and stage counts and its top 8 stages by
    * executor CPU. */
  def run(spark: SparkSession, sfDir: String, name: String, reps: Int): Unit = {
    val query = SparkEntry.queries(name)
    val sc = spark.sparkContext
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit =
        stages.add(ev.stageInfo): Unit
    }
    sc.addSparkListener(listener)
    try (1 to reps).foreach { i =>
      val log = PhaseLog.start(s"run $i:")
      val threads0 = ThreadCpu.sample()
      query(spark, sfDir).write.format("noop").mode("overwrite").save()
      log(name)
      ThreadCpu.sample().foreach(t1 => threads0.foreach(t0 =>
        println(s"[threads] run $i: ${ThreadCpu.split(t0, t1)}")))
      // stage events arrive on Spark's asynchronous listener bus: the
      // last stage's may still be queued when the action returns
      org.apache.spark.sql.graft.Bridge.drainListeners(sc)
      printStages(s"run $i", jobs.getAndSet(0), stages.asScala.toVector)
      stages.clear()
      System.gc()
    } finally sc.removeSparkListener(listener)
  }

  private def printStages(tag: String, jobs: Int, all: Seq[StageInfo]): Unit = {
    val cpuNs = (s: StageInfo) => s.taskMetrics.executorCpuTime
    val runMs = (s: StageInfo) => s.taskMetrics.executorRunTime
    println(f"[stages] $tag: jobs=$jobs stages=${all.size} " +
      f"executor_cpu=${all.map(cpuNs).sum / 1e9}%.1f s " +
      f"executor_run=${all.map(runMs).sum / 1e3}%.1f s")
    all.sortBy(s => -cpuNs(s)).take(8).foreach { s =>
      val m = s.taskMetrics
      val spill =
        if (m.memoryBytesSpilled > 0 || m.diskBytesSpilled > 0)
          f" SPILL mem=${m.memoryBytesSpilled / 1e6}%.0fMB disk=${m.diskBytesSpilled / 1e6}%.0fMB"
        else ""
      println(f"[stages]   stage ${s.stageId}%4d cpu=${cpuNs(s) / 1e9}%7.1f s " +
        f"run=${runMs(s) / 1e3}%7.1f s tasks=${s.numTasks}%3d  " +
        s.name.takeWhile(_ != '\n').take(110) + spill)
    }
  }

  /** CPU seconds of this process by thread, read from
    * `/proc/self/task/<tid>/stat` (Linux; `sample` is None where the
    * directory is absent). A thread that exits between two samples takes
    * its CPU with it, so the split covers the threads alive at the end. */
  private object ThreadCpu {
    private val task = Paths.get("/proc/self/task")
    private val Hz = 100.0 // USER_HZ, the unit of utime/stime on Linux

    /** tid → (thread name, user + system CPU seconds). */
    def sample(): Option[Map[String, (String, Double)]] =
      if (!Files.isDirectory(task)) None
      else {
        val dirs = Files.list(task)
        try Some(dirs.iterator().asScala.flatMap { dir =>
          // the thread may exit between the listing and the read
          try {
            val stat = Files.readString(dir.resolve("stat"))
            val open = stat.indexOf('('); val close = stat.lastIndexOf(')')
            // after the name: state (field 3), then fields 4 on; utime and
            // stime are fields 14 and 15
            val f = stat.substring(close + 2).split(' ')
            Some(dir.getFileName.toString ->
              (stat.substring(open + 1, close), (f(11).toLong + f(12).toLong) / Hz))
          } catch { case _: java.io.IOException => None }
        }.toMap)
        finally dirs.close()
      }

    /** The group of a thread, by the name the JVM and Spark give it (the
      * kernel keeps its first 15 bytes). The launcher's `main` thread
      * keeps the process name, `java`. */
    def group(name: String): String =
      if (name.contains("CompilerThre")) "jit"
      else if (name.startsWith("GC ") || name.startsWith("G1 ")) "gc"
      else if (name.startsWith("Executor task")) "task"
      else if (name == "java" || name == "main") "main"
      else "other"

    /** CPU seconds per group between two samples, in a fixed order. */
    def split(before: Map[String, (String, Double)],
              after: Map[String, (String, Double)]): String = {
      val by = after.toSeq.map { case (tid, (name, cpu)) =>
        group(name) -> (cpu - before.get(tid).fold(0.0)(_._2))
      }.groupMapReduce(_._1)(_._2)(_ + _)
      Seq("jit", "gc", "task", "main", "other")
        .map(g => f"$g=${by.getOrElse(g, 0.0)}%.2f").mkString("cpu s: ", " ", "")
    }
  }

  private val KeySpan = 100000000L // > any source key at the probe SFs

  /** Local scaling-probe corpus generator:
    * `runMain graft.Cli scaleup <srcSfDir> <outDir> [factor]` — writes a
    * `factor`× FK-consistent replica of the full table set, so BOTH the
    * scaling sweeps (`Cli run`) and the complete DuckDB oracle gate
    * (Verify + tools/check.py) can run at factor× the bench scale.
    *
    * Growth shape = "more facts, same dims": `region nation customer
    * supplier part` are copied verbatim and the fact tables are
    * replicated with per-replica key offsets — orders/lineitem keep their
    * customer/part/supplier FKs pointing into the ORIGINAL dims (10× the
    * orders over the same customer base), events get disjoint user/event
    * ids (10× the users at the same per-user event density, so
    * sessionization state scales in keys not in per-key size), documents
    * get replica-suffixed tokens (each replica keeps the source's internal
    * near-dup structure; the corpus-wide pair population scales LINEARLY —
    * naive duplication would make every doc an exact dup of its copies and
    * measure a quadratic workload), and embeddings get replica-offset ids
    * AND labels (blocked pair mining stays replica-local, again linear)
    * plus per-replica deterministic noise so no two replicas' vectors tie
    * exactly in top-k rankings.
    *
    * `events.ts` is passed through as the raw nanosecond longs the source
    * stores (the engine contract); `tools/check.py` re-exposes it to
    * DuckDB as a timestamp when it sees the BIGINT probe shape.
    *
    * NODE-GROWING mode (4th arg `grow-parts`, round-7 verdict stretch #8):
    * the default "more facts, same dims" shape DENSIFIES the co-purchase
    * graph — same part nodes, factor× the orders, so per-node degree
    * grows factor× and triangle wedge work grows factor² BY CONSTRUCTION
    * (an artifact of the probe, not the operator; r7 excluded
    * `graph_triangles` from sf1 runs for exactly this). With `grow-parts`,
    * the `part` dim is replicated with per-replica key offsets and
    * lineitem's `l_partkey` follows — factor× the NODES at constant
    * per-node degree, the way a real larger catalog grows — so the graph
    * family scales linearly and re-enters large-probe runs. FK
    * consistency is preserved (every l_partkey still resolves in `part`);
    * part-dim queries simply see the honestly-bigger catalog.
    *
    * The GPS-fleet LINE keyspace scales the same way (r11 verdict missing
    * #1): `Pipeline.syntheticFleet` derives the bus line from the user-id
    * replica block (`user_id div 100M`, the offset applied to events
    * here), so a factor× corpus has factor× the lines at constant
    * per-line fleet density — the per-line DBSCAN pair grid stays
    * schedule-bounded instead of growing factor² under a fixed-8-line
    * keyspace.
    *
    * Probe data only: the source corpus is never written, and the oracle
    * gates never read this output.
    */
  def scaleUp(spark: SparkSession, src: String, out: String, factor: Int,
              growParts: Boolean): Unit = {
    val reps = spark.range(factor).select(col("id").cast("int").as("rep"))
    def reped(t: DataFrame): DataFrame = t.crossJoin(broadcast(reps))
    def copy(name: String): Unit =
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    def write(df: DataFrame, name: String, partCol: String): Unit =
      df.repartition(col(partCol))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")

    Seq("region", "nation", "customer", "supplier").foreach(copy)

    val off = col("rep") * KeySpan
    if (growParts)
      write(reped(spark.read.parquet(s"$src/part.parquet"))
        .withColumn("p_partkey", col("p_partkey") + off)
        .drop("rep"), "part", "p_partkey")
    else copy("part")

    write(reped(spark.read.parquet(s"$src/orders.parquet"))
      .withColumn("o_orderkey", col("o_orderkey") + off)
      .drop("rep"), "orders", "o_orderkey")

    write(reped(spark.read.parquet(s"$src/lineitem.parquet"))
      .withColumn("l_orderkey", col("l_orderkey") + off)
      .withColumn("l_partkey",
        if (growParts) col("l_partkey") + off else col("l_partkey"))
      .drop("rep"), "lineitem", "l_orderkey")

    write(reped(spark.read.parquet(s"$src/events.parquet"))
      .withColumn("event_id", col("event_id") + off)
      .withColumn("user_id", col("user_id") + off)
      .drop("rep"), "events", "user_id")

    write(reped(spark.read.parquet(s"$src/documents.parquet"))
      .withColumn("doc_id", col("doc_id") + off)
      // rep 0 keeps the source text byte-for-byte; later reps suffix
      // every token, so shingle vocabularies are replica-disjoint
      .withColumn("text",
        when(col("rep") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit("_"), col("rep"))), " ")))
      .drop("rep"), "documents", "doc_id")

    write(reped(spark.read.parquet(s"$src/embeddings.parquet"))
      .withColumn("vec_id", col("vec_id") + off)
      .withColumn("label",
        (col("label") + col("rep") * lit(1000000)).cast("int"))
      // deterministic per-(vector, component) noise, zero on rep 0:
      // breaks exact top-k ties between a vector and its replicas
      .withColumn("embedding",
        when(col("rep") === 0, col("embedding"))
          .otherwise(transform(col("embedding"),
            (x, i) => (x.cast("double") +
              ((col("vec_id") * 31 + i * 7) % 1000 - 500) * lit(1e-5))
              .cast("float"))))
      .drop("rep"), "embeddings", "vec_id")

    println(s"[scaleup] wrote ${factor}x corpus from $src to $out" +
      (if (growParts) " (grow-parts: replicated part dim, offset l_partkey)" else ""))
  }
}
