package graft.queries

import org.apache.spark.sql.functions._

/** Round-12 optimization pins: implementations swapped for performance
  * must be value-identical to what they replaced.
  *
  *  - [[Warehouse.triSupportByAdjacency]] (broadcast-CSR common-neighbor
  *    counting) vs [[Warehouse.triSupportByWedges]] (the oriented wedge
  *    enumeration it replaced below the cap) on the REAL sf0.001 staged
  *    edge relation, and on sf0.01 through the wedge path's sort-merge
  *    fallback; and vs an in-test brute force on a synthetic graph whose
  *    triangles are known by construction.
  */
class Round12PerfSpec extends graft.SparkSpec {

  private def supportSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select(col("u"), col("v"), col("common")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("adjacency support == brute force on a synthetic graph") {
    val s = spark
    import s.implicits._
    // deterministic sparse random-ish graph: 60 nodes, edges from a
    // fixed arithmetic rule; symmetrized, no self-loops, distinct
    val undirected = (for {
      a <- 0L until 60L
      b <- (a + 1) until 60L
      if ((a * 31 + b * 17) % 7) < 2
    } yield (a, b)).toSeq
    val sym = (undirected ++ undirected.map { case (a, b) => (b, a) }).distinct
    val edges = sym.toDF("src", "dst")
    val got = supportSet(
      Warehouse.triSupportByAdjacency(s, edges, sym.size.toLong))
    // brute force: common neighbors per undirected edge
    val adj = sym.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val want = undirected.flatMap { case (u, v) =>
      val c = (adj(u) intersect adj(v)).size.toLong
      if (c > 0) Some((u, v, c)) else None
    }.toSet
    assert(want.nonEmpty, "synthetic graph must contain triangles")
    assert(got === want)
  }

  test("adjacency support == wedge-enumeration support on sf0.001") {
    val s = spark
    // sf0.001 with the default broadcast cap; sf0.01 with cap 0, the
    // sort-merge fallback (another dir than sf0.001, since the wedge path's
    // staged tables are cached per (name, dir) in this JVM)
    for ((dir, cap) <- Seq((sf0001, 40000000L), (sf001, 0L))) {
      val edges = Warehouse.stagedEdges(s, dir)
      val nSym = edges.count()
      val fast = supportSet(Warehouse.triSupportByAdjacency(s, edges, nSym))
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan.toString)
        def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      // with Spark's size-based broadcast off, any broadcast join left in
      // the plan comes from the cap
      val threshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      if (cap == 0L) {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.listenerManager.register(listener)
      }
      val slow = try {
        val (wedgeDf, bloom) = Warehouse.triSupportByWedges(s, dir, edges, cap)
        try supportSet(wedgeDf) finally bloom.destroy()
      } finally {
        // deliver the queued plans before the listener goes
        org.apache.spark.sql.graft.Bridge.drainListeners(s.sparkContext)
        s.listenerManager.unregister(listener)
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      }
      assert(fast.nonEmpty, s"$dir co-purchase graph must contain triangles")
      assert(fast === slow, dir)
      if (cap == 0L) {
        val all = plans.toArray.mkString("\n")
        assert(all.contains("SortMergeJoin"), s"no wedge join plan seen:\n$all")
        assert(!all.contains("BroadcastHashJoin") && !all.contains("BroadcastExchange"),
          s"cap 0 still broadcasts:\n$all")
      }
    }
  }
}
