package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Narrow bridge to `private[sql]` constructors needed when building
  * DataFrames from custom logical plans (`graft.plans.AsOfJoin`), and to
  * the `private[spark]` listener bus that `graft.Cli run` drains. Lives
  * under `org.apache.spark.sql` for package-private access — the same
  * technique every third-party Spark extension library uses; nothing else
  * belongs in this package. */
object Bridge {

  /** Blocks until every event posted so far has reached the listeners,
    * so a listener's view of a finished action is complete. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** DataFrame from an InternalRow RDD — lets RDD-level repartitioning
    * (custom partitioners) stay in Tungsten binary format instead of
    * round-tripping through external `Row` objects. */
  def ofInternalRows(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
