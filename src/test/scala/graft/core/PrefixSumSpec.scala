package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The two-phase prefix sum against the single global window it stands
  * in for, at partition counts of 1, 3 and more than the row count (so
  * some range partitions are empty): the kit is only correct if its
  * result does not depend on how many range partitions there are. */
class PrefixSumSpec extends SparkSpec {

  private val nRows = 24

  // ties on k, zero and negative weights; (k desc, id) is the strict order
  private def rows: DataFrame = {
    import sqlImplicits._
    (1 to nRows).map(i =>
      (i.toLong, s"g${i % 3}", (i * 7 % 5).toLong, (i * 13 % 11 - 4).toLong))
      .toDF("id", "g", "k", "w")
  }
  private val order = Seq(col("k").desc, col("id").asc)

  private def withShufflePartitions(n: Int)(body: => Unit): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, saved)
  }

  private def byId(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap

  for (n <- Seq(1, 3, 2 * nRows)) {
    test(s"ungrouped offsets == global running sum, $n shuffle partitions") {
      withShufflePartitions(n) {
        val tagged = PrefixSum.rangeTag(rows, order: _*).localCheckpoint()
        val (withOffset, total) = PrefixSum.offsets(tagged, col("w"))
        val perPid = Window.partitionBy(col("pid")).orderBy(order: _*)
        val got = withOffset(tagged
            .withColumn("inc", sum(col("w")).over(
              perPid.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .withColumn("exc", coalesce(sum(col("w")).over(
              perPid.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))))
          .select(col("id"), col("poff") + col("inc"), col("poff") + col("exc"))
        val global = Window.orderBy(order: _*)
        val want = rows.select(col("id"),
          sum(col("w")).over(
            global.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
          coalesce(sum(col("w")).over(
            global.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        assert(byId(got) == byId(want))
        assert(total == rows.agg(sum(col("w"))).head().getLong(0))
      }
    }

    test(s"grouped offsets == per-group running sum, $n shuffle partitions") {
      withShufflePartitions(n) {
        // range on (group ++ order), and on the order alone — the grouped
        // offsets hold over either partitioning
        for (rangeOrder <- Seq(col("g").asc +: order, order)) {
          val tagged = PrefixSum.rangeTag(rows, rangeOrder: _*).localCheckpoint()
          val withOffset = PrefixSum.groupedOffsets(tagged, Seq("g"), col("w"))
          val perPid = Window.partitionBy(col("pid"), col("g")).orderBy(order: _*)
          val got = withOffset(tagged
              .withColumn("inc", sum(col("w")).over(
                perPid.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
              .withColumn("exc", coalesce(sum(col("w")).over(
                perPid.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))))
            .select(col("id"), col("goff") + col("inc"),
              col("goff") + col("exc"), col("gtotal"))
          val perGroup = Window.partitionBy(col("g")).orderBy(order: _*)
          val want = rows.select(col("id"),
            sum(col("w")).over(
              perGroup.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
            coalesce(sum(col("w")).over(
              perGroup.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)),
            sum(col("w")).over(Window.partitionBy(col("g"))))
          assert(byId(got) == byId(want), s"range order $rangeOrder")
        }
      }
    }
  }
}
