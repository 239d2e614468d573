package graft.ops

import org.scalatest.funsuite.AnyFunSuite

class DbscanSpec extends AnyFunSuite {

  private def matrix(pts: Seq[Double]): Array[Array[Double]] =
    pts.map(a => pts.map(b => math.abs(a - b)).toArray).toArray

  test("two well-separated groups cluster separately") {
    val pts = Seq(0.0, 0.1, 0.2, 10.0, 10.1, 10.2)
    val labels = Dbscan.fit(matrix(pts), eps = 0.5, minSamples = 2)
    assert(labels.take(3).toSet.size == 1)
    assert(labels.drop(3).toSet.size == 1)
    assert(labels(0) != labels(3))
    assert(!labels.contains(-1))
  }

  test("isolated point is noise") {
    val pts = Seq(0.0, 0.1, 0.2, 100.0)
    val labels = Dbscan.fit(matrix(pts), eps = 0.5, minSamples = 2)
    assert(labels(3) == -1)
    assert(labels.take(3).forall(_ == 0))
  }

  test("minSamples counts the point itself (sklearn parity)") {
    // two points at distance 0.1: each neighborhood = {self, other} = 2
    val labels2 = Dbscan.fit(matrix(Seq(0.0, 0.1)), eps = 0.5, minSamples = 2)
    assert(labels2.toSeq == Seq(0, 0))
    val labels3 = Dbscan.fit(matrix(Seq(0.0, 0.1)), eps = 0.5, minSamples = 3)
    assert(labels3.toSeq == Seq(-1, -1))
  }

  test("neighborhood is inclusive: d == eps is a neighbor") {
    val labels = Dbscan.fit(matrix(Seq(0.0, 0.5)), eps = 0.5, minSamples = 2)
    assert(labels.toSeq == Seq(0, 0))
  }

  test("border point joins the first core cluster that reaches it") {
    // chain: A-core at 0, B border at 0.4 (reachable from A and C), C core at 0.8
    // minSamples=3: A has {A,0.2,B}; C has {C,1.0,B}? craft:
    val pts = Seq(0.0, 0.2, 0.4, 0.8, 1.0, 1.2)
    val labels = Dbscan.fit(matrix(pts), eps = 0.45, minSamples = 3)
    // all chained within 0.45 → single cluster via expansion
    assert(labels.toSet == Set(0))
  }

  test("all-noise when eps is zero-ish and points distinct") {
    val labels = Dbscan.fit(matrix(Seq(0.0, 1.0, 2.0)), eps = 0.001, minSamples = 2)
    assert(labels.toSeq == Seq(-1, -1, -1))
  }

  test("empty input") {
    assert(Dbscan.fit(Array.empty, 1.0, 2).isEmpty)
  }

  test("brute-force invariant check on a seeded random set") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(60)(rnd.nextDouble() * 10)
    val eps = 0.4
    val min = 3
    val d = matrix(pts)
    val labels = Dbscan.fit(d, eps, min)
    val n = pts.size
    def nbrs(i: Int) = (0 until n).filter(j => d(i)(j) <= eps)
    val core = (0 until n).filter(i => nbrs(i).size >= min).toSet
    // every core point is clustered
    core.foreach(i => assert(labels(i) >= 0))
    // noise points are non-core with no core neighbor
    (0 until n).filter(i => labels(i) == -1).foreach { i =>
      assert(!core(i) && !nbrs(i).exists(core))
    }
    // core neighbors share a cluster
    core.foreach { i =>
      nbrs(i).filter(core).foreach(j => assert(labels(i) == labels(j)))
    }
  }

  test("fitAdjacency == fit on random matrices (label-exact, many seeds)") {
    // the distributed cluster path feeds fitAdjacency exactly the pairs
    // with (clamped) d <= eps; the two entry points must agree LABEL-FOR-
    // LABEL (numbering included), not just up to relabeling
    for (seed <- 1 to 50) {
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(40)
      val pts = Seq.fill(n)(rnd.nextDouble() * 4)
      val eps = 0.2 + rnd.nextDouble() * 0.6
      val min = 1 + rnd.nextInt(4)
      val d = matrix(pts)
      val adj = Array.tabulate(n)(i =>
        (0 until n).filter(j => j != i && d(i)(j) <= eps).toArray)
      assert(Dbscan.fit(d, eps, min).toSeq ==
        Dbscan.fitAdjacency(adj, min).toSeq, s"seed=$seed n=$n eps=$eps min=$min")
    }
  }

  test("fitAdjacency: empty graph and empty input") {
    assert(Dbscan.fitAdjacency(Array.empty, 2).isEmpty)
    // 3 isolated points, minSamples=1: every point is its own core cluster
    assert(Dbscan.fitAdjacency(Array.fill(3)(Array.empty[Int]), 1).toSeq ==
      Seq(0, 1, 2))
    // minSamples=2: all noise
    assert(Dbscan.fitAdjacency(Array.fill(3)(Array.empty[Int]), 2).toSeq ==
      Seq(-1, -1, -1))
  }

  test("fitNeighborhoods: labels unchanged under permuted adjacency lists") {
    // the distributed path fills each list in the order the pair cells
    // arrive; only the neighborhood SETS may decide the labels
    for (seed <- 1 to 50) {
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(60)
      val pts = Seq.fill(n)(rnd.nextDouble() * 4)
      val eps = 0.1 + rnd.nextDouble() * 0.6
      val min = 1 + rnd.nextInt(5)
      val adj = Array.tabulate(n)(i =>
        (0 until n).filter(j => j != i && math.abs(pts(i) - pts(j)) <= eps).toArray)
      val want = Dbscan.fitAdjacency(adj, min).toSeq
      for (_ <- 1 to 5) {
        val shuffled = adj.map(a => rnd.shuffle(a.toSeq).toArray)
        assert(Dbscan.fitAdjacency(shuffled, min).toSeq == want,
          s"seed=$seed n=$n eps=$eps min=$min")
      }
    }
  }
}
