package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.metrics.source.CodegenMetrics

/** Process-level counters read at the edges of a measurement window. */
object Proc {
  def cpuNanos(): Long = graft.core.PhaseLog.cpuNanos()
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  /** Heap in use after full collections, in MiB. Spark's ContextCleaner
    * releases the blocks of unreachable datasets only after a collection
    * has enqueued their references, so collect, let it run, collect again. */
  def retainedHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Spark driver and executor layers of one measurement window, recorded by
  * a listener the benchmark registers itself plus the Catalyst rule
  * metering and the codegen compile counters.
  *
  * Usage: `open()`, run the work, `close()` returns the window's metrics.
  * Windows must not overlap: the counters are reset at `open()`. */
final class LayerRecorder(sc: SparkContext) extends SparkListener {
  private case class TaskRec(stage: (Int, Int), launch: Long, finish: Long,
      runMs: Long, cpuNs: Long, shufR: Long, shufW: Long, spill: Long)
  private val tasks = ArrayBuffer[TaskRec]()
  private val stageWall = mutable.Map[(Int, Int), Long]()
  private var jobs = 0L
  private var t0Ms, c0, g0, compiles0 = 0L

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val wall = for (s <- i.submissionTime; c <- i.completionTime) yield c - s
    stageWall((i.stageId, i.attemptNumber())) = wall.getOrElse(0L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec((e.stageId, e.stageAttemptId),
      e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def open(): Unit = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    synchronized { tasks.clear(); stageWall.clear(); jobs = 0 }
    RuleExecutor.resetMetrics()
    CodeGenerator.resetCompileTime()
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    g0 = Proc.gcMillis(); c0 = Proc.cpuNanos(); t0Ms = System.currentTimeMillis()
  }

  def close(): Map[String, Double] = {
    val t1Ms = System.currentTimeMillis()
    val cpu = (Proc.cpuNanos() - c0) / 1e9
    val gc = (Proc.gcMillis() - g0) / 1e3
    val catalyst = RuleExecutor.getCurrentMetrics().time / 1e9
    val codegen = CodeGenerator.compileTime / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    org.apache.spark.BenchBridge.drainListeners(sc)
    synchronized {
      val wallMs = (t1Ms - t0Ms).max(1L)
      // union of task intervals clipped to the window: the rest is time
      // the driver spent with no task running
      var covered = 0L; var end = t0Ms
      for (t <- tasks.sortBy(_.launch)) {
        val (a, b) = (t.launch.max(end), t.finish.min(t1Ms))
        if (b > a) { covered += b - a; end = b }
      }
      val durations = tasks.groupBy(_.stage)
      val heaviest = durations.maxByOption(_._2.map(t => t.finish - t.launch).sum)
      val maxTaskFrac = heaviest.map { case (st, ts) =>
        ts.map(t => t.finish - t.launch).max.toDouble / stageWall.getOrElse(st, 0L).max(1L)
      }.getOrElse(0.0)
      val mb = 1048576.0
      Map(
        "driver.catalyst_s" -> catalyst,
        "driver.codegen_compiles" -> compiles.toDouble,
        "driver.codegen_s" -> codegen,
        "driver.no_task_s" -> (wallMs - covered) / 1e3,
        "driver.jobs" -> jobs.toDouble,
        "driver.stages" -> stageWall.size.toDouble,
        "driver.tasks" -> tasks.size.toDouble,
        "exec.task_s" -> tasks.map(_.runMs).sum / 1e3,
        "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "exec.busy_frac" ->
          tasks.map(t => t.finish - t.launch).sum.toDouble / (wallMs * sc.defaultParallelism),
        "exec.shuffle_read_mb" -> tasks.map(_.shufR).sum / mb,
        "exec.shuffle_write_mb" -> tasks.map(_.shufW).sum / mb,
        "exec.spill_mb" -> tasks.map(_.spill).sum / mb,
        "exec.gc_s" -> gc,
        "exec.max_task_frac" -> maxTaskFrac,
        "process.cpu_s" -> cpu,
        "process.wall_s" -> wallMs / 1e3)
    }
  }
}

/** In-memory span recorder: (name, start, end, parent), written once at the
  * end of the run. Spans nest by call order on the driver thread. */
final class Tracer {
  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime(), -1L)
    spans += s
    stack = s.id :: stack
    try body
    finally { s.end = System.nanoTime(); stack = stack.tail }
  }

  /** Seconds of the last closed span with this name. */
  def seconds(name: String): Double =
    spans.reverseIterator.find(_.name == name).map(s => (s.end - s.start) / 1e9).getOrElse(0.0)

  def toJson: String = spans.map(s =>
    Json.obj(Seq("name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "start_ns" -> s.start.toString, "end_ns" -> s.end.toString))).mkString("[", ",\n", "]")
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def nums(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
