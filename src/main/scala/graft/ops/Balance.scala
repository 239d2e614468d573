package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cost-balanced repartitioning — the reference's one genuinely
  * interesting scheduling idea (`Parallel/Trajectory Clustering.py:60–136`)
  * as a reusable helper.
  *
  * Problem: grouped work (per-line DBSCAN) is O(cost(key)) with wildly
  * skewed costs; hash partitioning puts several heavy keys on one
  * executor. AQE's skew handling splits *join/shuffle* skew but cannot
  * split a `flatMapGroups` group, so the fix is placement: bin-pack keys
  * by cost, then repartition by bin id.
  *
  * Plan (reference semantics): keys costing > outlierFactor × mean get a
  * dedicated bin; the rest are first-fit-decreasing packed into
  * `targetBins` bins of capacity overflowFactor × (total/targetBins).
  * The driver-side plan is over per-KEY aggregates (thousands of rows at
  * 100 TB — not data-scale).
  */
object Balance {

  /** Pure planning: key → bin id. */
  def plan(costs: Seq[(String, Double)], targetBins: Int,
           overflowFactor: Double = 1.2, // TC-P:98 (20% overflow)
           outlierFactor: Double = 3.0   // TC-P:83–86 (>3×avg isolated)
          ): Map[String, Int] = {
    if (costs.isEmpty) return Map.empty
    val meanCost = costs.map(_._2).sum / costs.size
    val (outliers, normal) = costs.partition(_._2 > outlierFactor * meanCost)

    val assignment = mutable.Map.empty[String, Int]
    // dedicated bins for outliers
    outliers.zipWithIndex.foreach { case ((k, _), i) => assignment(k) = i }
    val base = outliers.size

    val bins = math.max(1, targetBins)
    val capacity =
      (normal.map(_._2).sum / bins) * overflowFactor
    val load = Array.fill(bins)(0.0)
    normal.sortBy(-_._2).foreach { case (k, c) =>
      val fit = load.indexWhere(_ + c <= capacity)
      val bin = if (fit >= 0) fit else load.indexOf(load.min) // spill to lightest
      load(bin) += c
      assignment(k) = base + bin
    }
    assignment.toMap
  }

  /** Attach a `_bin` column from a per-key cost frame `(key, cost)` and
    * place each bin on its own partition. Cost frame is collected (per-key
    * aggregate — small); the key→bin map rides a broadcast join.
    *
    * Placement is an IDENTITY partitioner (partition index == bin id), not
    * `repartition(n, col)`: hash-mod placement is not a bijection, so two
    * heavy bins — including dedicated outlier bins — could collide on one
    * partition while others sit empty, silently undoing the packing. Keys
    * absent from the cost frame go to a fresh overflow bin, never bin 0
    * (which may be a dedicated outlier bin). The RDD round-trip is the
    * price of exact placement; this op feeds grouped per-partition work,
    * not further Catalyst optimization. */
  def costBalancedRepartition(df: DataFrame, keyCol: String,
                              costs: DataFrame, targetBins: Int,
                              overflowFactor: Double = 1.2,
                              outlierFactor: Double = 3.0): DataFrame = {
    // deterministic plan input is established HERE, driver-side: bin ids
    // depend on input order, and collect() order is not stable — callers
    // used to pay a distributed orderBy (a range-partition exchange) for
    // what is a sort of a per-key aggregate that fits on the driver
    val collected = costs.collect().map(r =>
      r.get(0).toString -> r.get(1).toString.toDouble).toSeq
      .sortBy { case (k, c) => (-c, k) }
    val assignment = plan(collected, targetBins, overflowFactor, outlierFactor)
    val spark = df.sparkSession
    import spark.implicits._
    val overflowBin =
      if (assignment.isEmpty) 0 else assignment.values.max + 1
    val mapping = broadcast(assignment.toSeq.toDF(keyCol, "_bin"))
    val joined = df.join(mapping, Seq(keyCol), "left")
      .na.fill(Map("_bin" -> overflowBin))
    val schema = joined.schema
    val binIdx = schema.fieldIndex("_bin")
    // stay in Tungsten format through the placement shuffle: external Row
    // conversion tripled the op's cost; InternalRow.copy() is one memcpy
    // (required — the scan reuses its row buffer)
    val placed = joined.queryExecution.toRdd
      .mapPartitions(_.map(r => (r.getInt(binIdx), r.copy())))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = overflowBin + 1
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .map(_._2)
    org.apache.spark.sql.graft.Bridge.ofInternalRows(spark, placed, schema)
  }
}
