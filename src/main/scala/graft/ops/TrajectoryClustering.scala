package graft.ops

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Stage 2 — per-line trajectory clustering, re-expressed Spark-first.
  *
  * The reference runs this as PySpark: trajectories assembled with an
  * order-dependent `collect_list` (`Parallel/Trajectory
  * Clustering.py:143–145`), pairwise distances through a Python row UDF,
  * and per-line sklearn DBSCAN inside a pandas grouped-map UDF
  * (`Standalone/Trajectory Clustering.py:143–191`) — every row crossing
  * JVM↔Python. Here the whole stage is native:
  *
  *  - assembly sorts each trajectory's points by (t, lng, lat) — the
  *    reference silently depends on read order, a latent nondeterminism
  *    fixed, not copied (SURVEY.md §7.4);
  *  - the TRACLUS distance reads only a trajectory's chord endpoints and
  *    polyline length ([[TrajectoryDistance.totalKm]]), so each line
  *    becomes ONE row: its roster and a primitive summary array. Pairs
  *    are scored by a primitive loop over that array inside (line, salt)
  *    cells, never as Spark rows, and DBSCAN runs in-JVM per line; past
  *    the line shuffle the stage is RDD code, since plan machinery
  *    (encoders, generated classes, AQE jobs) costs more than the
  *    driver-sized data it moves;
  *  - per-line (eps, minSamples) parameters ride a broadcast map instead
  *    of a driver dict captured in Python closures.
  *
  * Scale: the O(T²) pair work is per line (T = trajectories of ONE bus
  * line on one day — hundreds to thousands, not millions) and is split
  * over [[PairSalts]] cells per line; the DBSCAN step places lines by
  * their T² cost ([[Balance.plan]]), so one heavy line does not queue
  * behind the others.
  */
object TrajectoryClustering {

  /** Per-line DBSCAN parameters (reference `lines95_parameter.csv`). */
  final case class Params(eps: Double, minSamples: Int)

  /** Instrumentation of the distributed pair scan (r9 verdict #1: "does
    * the trig-free bound actually fire at sf1g?" must be answerable from
    * a log line, not a guess). Accumulators double-count recomputed or
    * retried tasks BY DESIGN — `pairs` drifting above the Σ T²/2 floor is
    * itself the diagnostic for lineage recompute of the pair grid.
    * `summaries` counts each trajectory of a scanned line once (before
    * the per-cell kernel, the summaries relation fed both sides of the
    * pair join and counted about twice that). */
  final class PairScanStats(sc: org.apache.spark.SparkContext)
      extends Serializable {
    val summaries = sc.longAccumulator("bz_summaries")
    val pairs = sc.longAccumulator("bz_pairs")
    val pruned = sc.longAccumulator("bz_pruned")
    val evaluated = sc.longAccumulator("bz_evaluated")
    val edges = sc.longAccumulator("bz_edges")
    val nans = sc.longAccumulator("bz_nan_pairs")
    def line: String = {
      val p = pairs.value
      val hit = if (p == 0) 0.0 else pruned.value.toDouble / p
      f"summaries=${summaries.value} pairs=$p pruned=${pruned.value} " +
        f"(hit=$hit%.3f) evaluated=${evaluated.value} " +
        f"edges=${edges.value} nan=${nans.value}"
    }
  }

  /** Stats of the most recent [[cluster]] call in this JVM (None when the
    * small-input local path ran) — read AFTER an action has consumed the
    * clustering, e.g. by the pipeline's PhaseLog. */
  @volatile var lastStats: Option[PairScanStats] = None

  /** The parameter-table ingestion the reference does inline — params CSV
    * collected into a driver dict (TC-S:36–39, TC-P:43–46) — as a
    * reusable helper: any `(linenumber|new_linenumber, eps, min_samples)`
    * frame becomes the broadcastable map [[cluster]] consumes. Rows with
    * null eps/min_samples are dropped here; lines absent from the map
    * are skipped at use time exactly like the reference (TC-S:157).
    * Driver-sized by contract: one row per bus line. */
  def paramsFrom(df: org.apache.spark.sql.DataFrame): Map[String, Params] = {
    val key =
      if (df.columns.contains("linenumber")) "linenumber" else "new_linenumber"
    df.select(col(key).cast("string"), col("eps").cast("double"),
        col("min_samples").cast("int"))
      .na.drop()
      .collect()
      .map(r => r.getString(0) -> Params(r.getDouble(1), r.getInt(2)))
      .toMap
  }

  /** [[paramsFrom]] over a header CSV file (the reference's exact input
    * shape, `Sample Data/lines95_parameter.csv`). */
  def paramsFromCsv(spark: org.apache.spark.sql.SparkSession,
                    path: String): Map[String, Params] = {
    import org.apache.spark.sql.types._
    paramsFrom(graft.sources.Csv.read(spark, path, StructType(Seq(
      StructField("new_linenumber", StringType),
      StructField("eps", DoubleType),
      StructField("min_samples", IntegerType)))))
  }

  /** One line with parameters: its roster (`id`, `patternID`) in tid
    * order and its summaries, 5 doubles per tid (head lng/lat, last
    * lng/lat, polyline km). */
  private[ops] type LineRow = (String, Array[String], Array[String], Array[Double])

  /** One cell's output: edge pairs (i, j) with finite d ≤ eps, NaN pairs,
    * both packed two ints a pair, and the cell's max-finite witness. */
  private type CellRow = (String, Array[Int], Array[Int], Double)

  /** (line, salt) cells per line on the distributed path. */
  private val PairSalts = 16

  /** A cell starts a new output row once its packed pairs reach this many
    * ints (4 MiB). A row is one contiguous buffer on both sides of the
    * shuffle, so an uncapped row would grow with T²/[[PairSalts]] toward
    * the 2 GiB array limit; at the cap the per-row cost is amortized over
    * half a million pairs. */
  private val CellRowInts = 1 << 20

  /** Name of the cell fan-out RDD, the shuffle that spreads each line's
    * pair work over (line, salt) cells; `PlanSpec` finds it by name. */
  private[graft] val CellShuffleName = "stage2 cells"

  private val labelSchema = StructType(Seq(
    StructField("linenumber", StringType), StructField("id", StringType),
    StructField("patternID", StringType),
    StructField("cluster", IntegerType, nullable = false)))

  /** Cluster each line's trajectories; returns
    * `(linenumber, id, patternID, cluster)` with −1 = noise.
    *
    * Reference behaviors preserved: lines with no parameters are skipped
    * (their rows get null cluster after [[attach]], TC-S:153–155); a
    * line whose clustering throws falls back to all-zeros
    * (TC-P:309–312); non-finite pair distances are clamped to 2× the max
    * finite distance (TC-P:298–303).
    *
    * The stage's plan machinery costs more than the driver-sized data it
    * moves, so past the line shuffle it runs on RDDs: no encoders, no
    * generated classes, one job per action. Both paths start from
    * [[lineRows]]: one row per line, its tid = the position in
    * UTF-8-binary (id, patternID) order (the reference relies on pandas
    * groupby order; this pins it). The line shuffle runs once, when the
    * line rows are built, and every later action reads its output, so
    * nothing is persisted. The per-line trajectory counts collected from
    * the rows drive the small-input branch and the DBSCAN bin placement.
    * The distributed path:
    *
    *  1. The line row fans out to [[PairSalts]] (line, salt) cells through
    *     an RDD `HashPartitioner(numShufflePartitions)`: the line rows
    *     are byte-tiny while the work in them is quadratic, so AQE's
    *     byte-based coalescing would fold the cell grid into one or two
    *     tasks and serialize the scan (measured on the earlier pair join
    *     at 10× data: 37 s at parallelism ~1.5 → 10.6 s at ~9 once the
    *     shuffle kept its width). An RDD shuffle is outside AQE.
    *  2. Cell s scores i ∈ {s, s+S, …} against every j ∈ (i, T) — each
    *     pair exactly once — in a primitive loop ([[CellScan]]) and emits
    *     packed rows: only pairs that can be edges leave the cell, plus
    *     its max-finite witness for the clamp rule.
    *  3. DBSCAN, irreducibly whole-line state, runs per COST-BALANCED
    *     BIN: per-line pair counts (T²) feed [[Balance.plan]], and the
    *     rosters and the cell rows are both partitioned by bin index (one
    *     partition per bin), so a hot line gets its own task. The zipped
    *     partitions stream the cell rows into each line's [[LineBuf]]
    *     (the eps-neighborhood graph, never the T×T matrix), which labels
    *     the line.
    *
    * Small-input hybrid (same reasoning as
    * `Dedup.connectedComponents`'s union-find branch): when the total
    * pair count is at most `maxLocalPairs`, the cell and bin shuffles
    * would orchestrate work that fits in one task per line, so
    * [[clusterLocal]] scans each line as ONE cell (salt 0 of 1) into a
    * [[LineBuf]] in the same task. The branches share the kernel and the
    * buffer and differ only in orchestration; `PipelineSpec` checks both
    * against a dense-matrix reference that never prunes.
    */
  def cluster(patterns: DataFrame, params: Map[String, Params],
              maxLocalPairs: Long = 4000000L): DataFrame = {
    val spark = patterns.sparkSession
    val sc = spark.sparkContext
    val bc = sc.broadcast(params)
    val numParts = spark.sessionState.conf.numShufflePartitions
    val lines = lineRows(patterns, bc, numParts)
    val lineCounts = lines.map(r => r._1 -> r._2.length.toLong).collect()
    val totalPairs = lineCounts.map { case (_, t) => t * t }.sum

    val stats =
      if (totalPairs <= maxLocalPairs) None else Some(new PairScanStats(sc))
    lastStats = stats
    val labels = stats match {
      case None => clusterLocal(lines, bc)
      case Some(st) => clusterDistributed(lines, lineCounts, bc, numParts, st)
    }
    val rows = labels.map { case (line, id, pid, label) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(line),
        UTF8String.fromString(id), UTF8String.fromString(pid), label)): InternalRow
    }
    org.apache.spark.sql.graft.Bridge.ofInternalRows(spark, rows, labelSchema)
  }

  /** The distributed path of [[cluster]], steps 1–3. */
  private def clusterDistributed(lines: RDD[LineRow],
      lineCounts: Array[(String, Long)], bc: Broadcast[Map[String, Params]],
      numParts: Int, stats: PairScanStats)
      : RDD[(String, String, String, Int)] = {
    val cells = lines
      .flatMap { case (line, ids, _, sums) =>
        stats.summaries.add(ids.length.toLong)
        (0 until math.min(PairSalts, ids.length)).map(salt => ((line, salt), sums))
      }
      .partitionBy(new HashPartitioner(numParts))
      .setName(CellShuffleName)
      .flatMap { case ((line, salt), sums) =>
        new CellScan(line, salt, PairSalts, sums, bc.value(line).eps, Some(stats))
      }

    // cost-balanced DBSCAN placement: per-line pair cost T² bin-packed
    // (outlier lines get dedicated bins), one partition per bin
    val costs = lineCounts.map { case (l, t) => l -> (t.toDouble * t) }
      .sortBy { case (l, c) => (-c, Option(l)) }.toSeq // deterministic plan input
    // Balance.plan adds dedicated outlier bins ON TOP of targetBins, so
    // a first plan can exceed the partition count; shrink the normal-bin
    // target by the overflow and re-plan (outlier count depends only on
    // the cost distribution, not targetBins, so one correction lands
    // unless outliers alone exceed the partitions — then there are more
    // bins than task slots, and bins queue)
    var targetBins = math.max(1, math.min(numParts, costs.size))
    var assignment = Balance.plan(costs, targetBins)
    var nBins = if (assignment.isEmpty) 1 else assignment.values.max + 1
    if (nBins > numParts && targetBins > 1) {
      targetBins = math.max(1, targetBins - (nBins - numParts))
      assignment = Balance.plan(costs, targetBins)
      nBins = if (assignment.isEmpty) 1 else assignment.values.max + 1
    }
    val bins = new BinPartitioner(assignment, nBins)
    val rosters = lines.map { case (line, ids, pids, _) => (line, (ids, pids)) }
      .partitionBy(bins)
    val edges = cells.map(c => (c._1, c)).partitionBy(bins)

    rosters.zipPartitions(edges) { (rs, cs) =>
      // a bin holds whole lines (one, or several small ones packed together)
      val bufs = rs.map { case (line, (ids, pids)) =>
        line -> new LineBuf(ids, pids) }.toMap
      cs.foreach { case (line, c) => bufs(line).add(c) }
      bufs.iterator.flatMap { case (line, b) => b.labels(line, bc.value(line)) }
    }
  }

  /** One line's eps-neighborhood graph, fed the [[CellRow]]s of its cells:
    * the one place where pair verdicts become DBSCAN labels, for both
    * branches of [[cluster]]. Adjacency lists are PRIMITIVE (r11): boxed
    * ArrayBuffer[Int] cost ~20 B/edge-end and OOM'd the 32 g heap at the
    * 100× probe's ~700 M edge-ends; IntVec keeps 4 B/end. */
  private final class LineBuf(ids: Array[String], pids: Array[String]) {
    private val adj = Array.fill(ids.length)(new graft.core.IntVec(4))
    private val nanPairs = new graft.core.IntVec(8)
    private var maxFinite = 0.0

    def add(c: CellRow): Unit = {
      val (_, edges, nans, cellMax) = c
      if (cellMax > maxFinite) maxFinite = cellMax
      var k = 0
      while (k < edges.length) {
        adj(edges(k)).add(edges(k + 1)); adj(edges(k + 1)).add(edges(k))
        k += 2
      }
      k = 0
      while (k < nans.length) { nanPairs.add(nans(k)); k += 1 }
    }

    /** `(line, id, patternID, label)` per trajectory, once every cell row
      * of the line has been added; −1 = noise. */
    def labels(line: String, p: Params): Iterator[(String, String, String, Int)] = {
      // non-finite pairs clamp to 2×max finite (TC-P:298–303):
      // an edge exactly when the clamped value clears eps
      if (2 * maxFinite <= p.eps) {
        var k = 0
        while (k < nanPairs.size) {
          val i = nanPairs(k); val j = nanPairs(k + 1)
          adj(i).add(j); adj(j).add(i)
          k += 2
        }
      }
      val labels =
        try Dbscan.fitNeighborhoods(adj, p.minSamples)
        catch { case _: Exception => Array.fill(ids.length)(0) } // TC-P:309–312
      ids.indices.iterator.map(t => (line, ids(t), pids(t), labels(t)))
    }
  }

  /** Places each line on the partition of its bin ([[Balance.plan]]'s
    * bin index): the placement is exact, where hashing bin ids could put
    * two heavy bins on one task. */
  private final class BinPartitioner(binOf: Map[String, Int], bins: Int)
      extends Partitioner {
    def numPartitions: Int = bins
    def getPartition(key: Any): Int = binOf(key.asInstanceOf[String])
  }

  /** [[LineRow]]s of `patterns`. Lines without parameters are dropped
    * before the shuffle (TC-S:153); one shuffle by line (a user-numbered
    * one, which AQE leaves at `numParts`) and a sort by (line, id,
    * patternID, t, lng, lat) within each partition put every line's
    * trajectories in tid order and every trajectory's points in (t,
    * lng, lat) order (lng/lat are read as doubles first). The sorted
    * rows stream through [[LineAssembler]], so the points stay in
    * Tungsten rows until they become summaries. The shuffle runs here,
    * when the rows are requested; the sort runs with each action. */
  private[ops] def lineRows(patterns: DataFrame,
      bc: Broadcast[Map[String, Params]], numParts: Int): RDD[LineRow] = {
    val line = col("linenumber").cast("string")
    val known = line.isInCollection(bc.value.keySet.filter(_ != null))
    val points = patterns
      .select(line.as("line"), col("id").cast("string").as("id"),
        col("patternID").cast("string").as("patternID"), col("t"),
        col("lng").cast("double").as("lng"), col("lat").cast("double").as("lat"))
      .filter(if (bc.value.contains(null)) known || line.isNull else known)
      .repartition(numParts, col("line"))
      .sortWithinPartitions("line", "id", "patternID", "t", "lng", "lat")
    points.queryExecution.toRdd.mapPartitions(new LineAssembler(_))
  }

  /** Folds rows of (line, id, patternID, t, lng, lat), sorted by all six,
    * into one [[LineRow]] per line: consecutive rows of one (id,
    * patternID) are one trajectory, reduced to its summary (head, last,
    * [[TrajectoryDistance.lengthKm]]) when the next one starts. */
  private final class LineAssembler(rows: Iterator[InternalRow])
      extends scala.collection.AbstractIterator[LineRow] {
    private def str(r: InternalRow, i: Int): UTF8String =
      if (r.isNullAt(i)) null else r.getUTF8String(i).clone()
    private def same(r: InternalRow, i: Int, u: UTF8String): Boolean =
      if (r.isNullAt(i)) u == null else u != null && r.getUTF8String(i) == u
    private def text(u: UTF8String): String = if (u == null) null else u.toString
    private var pending: Option[InternalRow] =
      if (rows.hasNext) Some(rows.next()) else None

    def hasNext: Boolean = pending.isDefined

    def next(): LineRow = {
      val first = pending.getOrElse(throw new NoSuchElementException("no line"))
      val line = str(first, 0)
      val ids, pids = Array.newBuilder[String]
      val sums = Array.newBuilder[Double]
      var r = first
      var sameLine = true
      while (sameLine) {
        val (id, pid) = (str(r, 1), str(r, 2))
        val pts = Vector.newBuilder[TrajectoryDistance.P]
        var sameTrajectory = true
        while (sameTrajectory) {
          if (r.isNullAt(4) || r.isNullAt(5))
            throw new IllegalArgumentException(
              s"null coordinate in trajectory ($id, $pid) of line $line")
          pts += TrajectoryDistance.P(r.getDouble(4), r.getDouble(5))
          if (rows.hasNext) {
            r = rows.next()
            sameLine = same(r, 0, line)
            sameTrajectory = sameLine && same(r, 1, id) && same(r, 2, pid)
          } else { r = null; sameLine = false; sameTrajectory = false }
        }
        val tr = pts.result()
        ids += text(id); pids += text(pid)
        sums ++= Array(tr.head.lng, tr.head.lat, tr.last.lng, tr.last.lat,
          TrajectoryDistance.lengthKm(tr))
      }
      pending = Option(r)
      (text(line), ids.result(), pids.result(), sums.result())
    }
  }

  /** The pair kernel of one (line, salt) cell over the line's summaries
    * `s` (5 doubles per tid): rows i ∈ {salt, salt+S, …} against every
    * j ∈ (i, T). Per pair, the trig-free sound [[TrajectoryDistance.lowerBoundKm]]
    * gate first (r9): a pair that provably exceeds eps skips the full
    * [[TrajectoryDistance.totalKm]]. Its bound still feeds the max-finite
    * witness — lb ≤ d, and the only consumer is the `2·maxFinite ≤ eps`
    * clamp test, where ANY witness > eps pins the same (false) outcome as
    * the true maximum; with zero pruned pairs the witness is exactly the
    * true maximum. A pair is pruned only when both polyline lengths are
    * finite too: lb reads the endpoints alone (NaN endpoints make it NaN),
    * so a NaN interior point would otherwise prune a pair whose d is NaN
    * and pin the witness past eps. Non-finite pairs thus reach the clamp
    * rule unchanged. Finite d ≤ eps is an edge; finite d > eps is dropped
    * here, which turns the DBSCAN task's O(T²) feed into an O(edges) one.
    * Counts go to `stats`, if any, once, when the cell is done. */
  private final class CellScan(line: String, salt: Int, salts: Int,
      s: Array[Double], eps: Double, stats: Option[PairScanStats])
      extends scala.collection.AbstractIterator[CellRow] {
    private val t = s.length / 5
    private var i = salt
    private var j = salt + 1
    private var done = false
    private var pairs, pruned, evaluated, edges, nans = 0L
    private var maxFinite = 0.0

    def hasNext: Boolean = !done

    def next(): CellRow = {
      if (done) throw new NoSuchElementException("cell scanned")
      val edgeBuf = new graft.core.IntVec(1024)
      val nanBuf = new graft.core.IntVec(8)
      while (i < t && edgeBuf.size + nanBuf.size < CellRowInts) {
        val a = 5 * i
        while (j < t && edgeBuf.size + nanBuf.size < CellRowInts) {
          val b = 5 * j
          pairs += 1
          val lb = TrajectoryDistance.lowerBoundKm(
            s(a), s(a + 1), s(a + 2), s(a + 3), s(b), s(b + 1), s(b + 2), s(b + 3))
          if (lb > eps && java.lang.Double.isFinite(s(a + 4) + s(b + 4))) {
            pruned += 1
            if (lb > maxFinite) maxFinite = lb
          } else {
            evaluated += 1
            val d = TrajectoryDistance.totalKm(s(a), s(a + 1), s(a + 2), s(a + 3),
              s(a + 4), s(b), s(b + 1), s(b + 2), s(b + 3), s(b + 4))
            if (java.lang.Double.isFinite(d)) {
              if (d > maxFinite) maxFinite = d
              if (d <= eps) { edges += 1; edgeBuf.add(i); edgeBuf.add(j) }
            } else { nans += 1; nanBuf.add(i); nanBuf.add(j) }
          }
          j += 1
        }
        if (j >= t) { i += salts; j = i + 1 }
      }
      if (i >= t) {
        done = true
        stats.foreach { st =>
          st.pairs.add(pairs); st.pruned.add(pruned)
          st.evaluated.add(evaluated); st.edges.add(edges)
          st.nans.add(nans)
        }
      }
      (line, edgeBuf.toArray, nanBuf.toArray, maxFinite)
    }
  }

  /** Small-input path: each line is one [[CellScan]] cell (salt 0 of 1),
    * scanned into a [[LineBuf]] and labelled in one task, with no cell or
    * bin shuffle and no published stats. */
  private def clusterLocal(lines: RDD[LineRow],
      bc: Broadcast[Map[String, Params]])
      : RDD[(String, String, String, Int)] =
    lines.flatMap { case (line, ids, pids, sums) =>
      val p = bc.value(line)
      val buf = new LineBuf(ids, pids)
      new CellScan(line, 0, 1, sums, p.eps, None).foreach(buf.add)
      buf.labels(line, p)
    }

  /** Join cluster labels back onto the point-level frame (TC-S:201); rows
    * of skipped lines keep a null cluster. */
  def attach(patterns: DataFrame, clustered: DataFrame): DataFrame =
    patterns
      .withColumn("patternID", col("patternID").cast("string"))
      .join(clustered, Seq("linenumber", "id", "patternID"), "left")

  /** Full stage 2. */
  def run(patterns: DataFrame, params: Map[String, Params]): DataFrame =
    attach(patterns, cluster(patterns, params))
}
