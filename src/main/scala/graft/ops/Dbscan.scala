package graft.ops

import scala.collection.mutable

/** DBSCAN over a precomputed distance matrix — native Scala replacement
  * for the reference's sklearn call (`Standalone/Trajectory
  * Clustering.py:176–184`, `metric='precomputed'`).
  *
  * sklearn-parity semantics:
  *  - neighborhood is `d(i,j) <= eps`, *including* the point itself;
  *  - a point is core iff its neighborhood size ≥ minSamples (the point
  *    counts toward its own minSamples);
  *  - labels are assigned by scanning points in index order and
  *    BFS-expanding each new core point, so border points join the first
  *    core cluster that reaches them — deterministic for a fixed row
  *    order (callers sort groups before building the matrix);
  *  - noise is −1.
  */
object Dbscan {

  /** @param dist symmetric N×N distance matrix (diagonal 0)
    * @return cluster label per index; −1 = noise */
  def fit(dist: Array[Array[Double]], eps: Double, minSamples: Int): Array[Int] = {
    val n = dist.length
    val labels = Array.fill(n)(-2) // -2 = unvisited, -1 = noise
    var cluster = -1

    def neighbors(i: Int): Array[Int] = {
      val buf = new mutable.ArrayBuffer[Int]
      var j = 0
      while (j < n) { if (dist(i)(j) <= eps) buf += j; j += 1 }
      buf.toArray
    }

    var i = 0
    while (i < n) {
      if (labels(i) == -2) {
        val seed = neighbors(i)
        if (seed.length < minSamples) labels(i) = -1
        else {
          cluster += 1
          labels(i) = cluster
          val queue = mutable.Queue[Int](seed.filter(_ != i).toSeq: _*)
          while (queue.nonEmpty) {
            val j = queue.dequeue()
            if (labels(j) == -1) labels(j) = cluster // noise → border
            else if (labels(j) == -2) {
              labels(j) = cluster
              val jn = neighbors(j)
              if (jn.length >= minSamples) queue ++= jn // j is core: expand
            }
          }
        }
      }
      i += 1
    }
    labels
  }

  /** [[fit]] over a precomputed eps-NEIGHBORHOOD graph instead of the
    * full matrix: `adj(i)` must hold exactly the j ≠ i with (clamped)
    * d(i,j) <= eps. Semantically IDENTICAL to [[fit]] on the matrix the
    * graph was derived from — DBSCAN's output depends only on each
    * point's eps-neighborhood set and the index scan order, never on a
    * distance value beyond the <= eps test: core iff |adj(i)|+1 (self)
    * >= minSamples, BFS expansion over the same sets, border points
    * claimed by the first core cluster to reach them in the same scan
    * order. `DbscanSpec` pins the equivalence property against [[fit]]
    * on random matrices.
    *
    * Exists for the distributed cluster path: a T×T matrix forces O(T²)
    * rows through the per-line DBSCAN task, while the eps-graph is only
    * the pairs that can ever matter — the asymptotic difference between
    * shuffling every pair and shuffling the (typically sparse) neighbor
    * graph. */
  def fitAdjacency(adj: Array[Array[Int]], minSamples: Int): Array[Int] =
    fitNeighborhoods(adj.map(graft.core.IntVec.wrap), minSamples)

  /** [[fitAdjacency]] over primitive [[graft.core.IntVec]] neighbor lists —
    * the form the distributed path builds directly (no boxed copies;
    * the BFS queue is a primitive head-indexed vector, so the whole pass
    * stays at 4 B per edge-end). Semantics identical to [[fit]].
    *
    * The labels depend only on each point's neighborhood SET, never on
    * the order of a list (the DBSCAN task fills lists in whatever order the
    * pair cells arrive). Each cluster is finished before the next starts,
    * and seeds are taken in index order, so it suffices that one BFS
    * reaches an order-free set. A BFS from core point i labels exactly
    * the points still at −2 or −1 that are reachable from i through core
    * points: it expands every core point it labels, a border point is
    * labelled without expansion, and a point already in an earlier
    * cluster is never core (a core point's earlier cluster would have
    * expanded through it to i, labelling i first). That set is fixed by
    * the neighborhood sets and the labels before the BFS, whatever the
    * queue order. `DbscanSpec` checks it under permuted lists. */
  def fitNeighborhoods(
      adj: Array[graft.core.IntVec], minSamples: Int): Array[Int] = {
    val n = adj.length
    val labels = Array.fill(n)(-2) // -2 = unvisited, -1 = noise
    var cluster = -1

    def enqueueAll(queue: graft.core.IntVec, v: graft.core.IntVec): Unit = {
      var k = 0
      while (k < v.size) { queue.add(v(k)); k += 1 }
    }

    var i = 0
    while (i < n) {
      if (labels(i) == -2) {
        if (adj(i).size + 1 < minSamples) labels(i) = -1
        else {
          cluster += 1
          labels(i) = cluster
          val queue = new graft.core.IntVec(16)
          var head = 0
          enqueueAll(queue, adj(i))
          while (head < queue.size) {
            val j = queue(head)
            head += 1
            if (labels(j) == -1) labels(j) = cluster // noise → border
            else if (labels(j) == -2) {
              labels(j) = cluster
              if (adj(j).size + 1 >= minSamples) enqueueAll(queue, adj(j))
            }
          }
        }
      }
      i += 1
    }
    labels
  }
}
