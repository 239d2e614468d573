package graft.plans

import org.apache.spark.sql.SparkSession

object GraftExtensions {
  /** Install the custom-operator strategies ([[AsOfStrategy]],
    * [[IntervalStrategy]]) on an already-built session — the one way this
    * project plans its custom joins, for any host that constructs a plain
    * `SparkSession`. Idempotent. */
  def ensureStrategies(spark: SparkSession): Unit =
    spark.synchronized {
      val cur = spark.experimental.extraStrategies
      val add = Seq(AsOfStrategy, IntervalStrategy).filterNot(cur.contains)
      if (add.nonEmpty) spark.experimental.extraStrategies = cur ++ add
    }
}
