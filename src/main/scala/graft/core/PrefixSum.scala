package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed two-phase prefix sum: a running sum or rank over a
  * global order without `Window.orderBy` with no partition key, which
  * plans an unpartitioned WindowExec and funnels the whole relation
  * through one task (the canonical scale-killer at 100 TB).
  *
  *  1. [[rangeTag]] range-partitions on the caller's order and tags each
  *     row with its partition id `pid`. Range partitions are contiguous
  *     in that order and their ids follow it, so "rows before this one"
  *     = "rows of earlier pids" + "earlier rows of this pid". The same
  *     holds within any subset of the rows, e.g. within one group of a
  *     range partitioning on (group ++ order) or on the order alone.
  *  2. The caller computes the second term with its own window
  *     partitioned by `pid` (fully parallel: the window key is the
  *     physical partition).
  *  3. [[offsets]] / [[groupedOffsets]] add the first term: the weight of
  *     all earlier pids, from a |pids|-row (|pids × groups|-row) table
  *     broadcast back onto the rows.
  *
  * For a strict total order the sum equals the single global window at
  * any partition count, empty range partitions included (they simply
  * have no row in the offset table). The caller pins the tagged
  * relation (`Ext.stage` or `localCheckpoint`) before reading it twice:
  * `repartitionByRange` samples its bounds per job, so two evaluations
  * could disagree on which rows a pid holds and misalign the offsets.
  * Pin it unsorted: the offsets pass is order-free, and every caller's
  * `pid` window re-sorts after the exchange above the pinned scan. */
object PrefixSum {

  /** `df` range-partitioned on `order` (a strict total order) into the
    * session's shuffle-partition count, plus its partition id `pid`. */
  def rangeTag(df: DataFrame, order: Column*): DataFrame =
    df.repartitionByRange(
        df.sparkSession.sessionState.conf.numShufflePartitions, order: _*)
      .withColumn("pid", spark_partition_id())

  /** Ungrouped offsets of `weight` over a pinned [[rangeTag]] relation: a
    * function that adds `poff` (the weight of all earlier pids) to any
    * frame carrying `pid`, and the grand total. Both come from one
    * |pids|-row collect. */
  def offsets(tagged: DataFrame, weight: Column): (DataFrame => DataFrame, Long) = {
    var acc = 0L
    val offs = tagged.groupBy(col("pid")).agg(sum(weight).as("w"))
      .orderBy(col("pid"))
      .collect().map { r =>
        val o = (r.getInt(0), acc); acc += r.getLong(1); o
      }.toSeq
    val s = tagged.sparkSession
    import s.implicits._
    val table = offs.toDF("pid", "poff")
    (_.join(broadcast(table), "pid"), acc)
  }

  /** Grouped offsets of `weight` over a pinned [[rangeTag]] relation: a
    * function that adds `goff` (the group's weight in earlier pids) and
    * `gtotal` (the group's whole weight) to any frame carrying `pid` and
    * `groupCols`. No driver job: the |pids × groups|-row table is a
    * per-group window over pid order, broadcast with the plan. */
  def groupedOffsets(tagged: DataFrame, groupCols: Seq[String],
      weight: Column): DataFrame => DataFrame = {
    val g = groupCols.map(col)
    val table = tagged.groupBy((col("pid") +: g): _*).agg(sum(weight).as("w"))
      .withColumn("goff", coalesce(sum(col("w")).over(
        Window.partitionBy(g: _*).orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("gtotal", sum(col("w")).over(Window.partitionBy(g: _*)))
      .drop("w")
    _.join(broadcast(table), "pid" +: groupCols)
  }
}
