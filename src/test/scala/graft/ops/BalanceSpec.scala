package graft.ops

import org.scalatest.funsuite.AnyFunSuite

class BalanceSpec extends AnyFunSuite {

  test("outliers get dedicated bins") {
    val costs = Seq("big" -> 100.0, "a" -> 1.0, "b" -> 1.0, "c" -> 1.0)
    val plan = Balance.plan(costs, targetBins = 2)
    val bigBin = plan("big")
    assert(Seq("a", "b", "c").forall(k => plan(k) != bigBin))
  }

  test("normal keys spread across target bins within capacity") {
    val costs = (1 to 12).map(i => s"k$i" -> 10.0)
    val plan = Balance.plan(costs, targetBins = 4)
    val loads = plan.groupBy(_._2).view.mapValues(_.size).values.toSeq
    assert(plan.values.toSet.size == 4)
    assert(loads.max <= 4) // 12 keys / 4 bins × 1.2 overflow ≈ ≤4 each
  }

  test("every key is assigned") {
    val rnd = new scala.util.Random(11)
    val costs = (1 to 100).map(i => s"k$i" -> (rnd.nextDouble() * 50 + 1))
    val plan = Balance.plan(costs, targetBins = 8)
    assert(plan.size == 100)
  }

  test("empty input") {
    assert(Balance.plan(Nil, 4).isEmpty)
  }

  test("load spread beats worst case") {
    val rnd = new scala.util.Random(13)
    val costs = (1 to 200).map(i => s"k$i" -> math.pow(rnd.nextDouble() * 10, 2))
    val plan = Balance.plan(costs, targetBins = 10)
    val byBin = costs.groupBy { case (k, _) => plan(k) }
      .view.mapValues(_.map(_._2).sum).values.toSeq
    val total = costs.map(_._2).sum
    // no non-outlier bin should exceed ~2× fair share
    assert(byBin.max <= total / 10 * 3.2)
  }

  test("costBalancedRepartition places each bin on its own partition") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    val df = (1 to 1000).map(i => (s"k${i % 7}", i)).toDF("key", "v")
    val costs = Seq(
      ("k0", 1000.0), ("k1", 10.0), ("k2", 10.0), ("k3", 10.0),
      ("k4", 9.0), ("k5", 8.0)) // k6 absent → overflow bin
      .toDF("key", "cost")
    val placed = Balance.costBalancedRepartition(df, "key", costs, targetBins = 3)
    val binToPartitions = placed
      .select(col("_bin"), spark_partition_id().as("pid"))
      .distinct().collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.getInt(1)).toSet).toMap
    // identity placement: every bin maps to exactly one partition, and no
    // two bins share one (the hash-mod collision the identity fix removes)
    assert(binToPartitions.values.forall(_.size == 1))
    val used = binToPartitions.values.map(_.head).toSeq
    assert(used.distinct.size == used.size, s"bins collided: $binToPartitions")
    // unknown key k6 goes to a fresh overflow bin, not bin 0
    val k6Bins = placed.filter(col("key") === "k6")
      .select(col("_bin")).distinct().collect().map(_.getInt(0)).toSet
    val knownBins = binToPartitions.keySet -- k6Bins
    assert(k6Bins.size == 1 && !knownBins.contains(k6Bins.head))
  }
}
