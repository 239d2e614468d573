package graft.core

/** Minimal growable PRIMITIVE int vector for edge-bound hot paths.
  *
  * `mutable.ArrayBuffer[Int]` stores boxed `java.lang.Integer`s behind an
  * `Array[AnyRef]` (~20 B per element: 16 B box + 4–8 B slot); at the 100×
  * trajectory probe the eps-graph's ~700 M adjacency edge-ends blew the
  * shared 32 g local heap on boxing alone. This class keeps 4 B per
  * element, which is the O(edges) memory bound the binned DBSCAN design
  * promises (`ops/TrajectoryClustering.scala`).
  */
final class IntVec(initialCapacity: Int) {
  def this() = this(4)
  private var arr = new Array[Int](math.max(initialCapacity, 1))
  private var n = 0

  def size: Int = n
  def isEmpty: Boolean = n == 0
  def apply(i: Int): Int = arr(i)

  def add(v: Int): Unit = {
    if (n == arr.length) {
      // max(..., 1): a wrap()ed zero-length array would otherwise grow
      // to capacity 0 << 1 = 0 and the write below would throw
      val next = new Array[Int](math.max(arr.length << 1, 1))
      System.arraycopy(arr, 0, next, 0, n)
      arr = next
    }
    arr(n) = v
    n += 1
  }

  /** Exact-size copy (callers that need an `Array[Int]` snapshot). */
  def toArray: Array[Int] = java.util.Arrays.copyOf(arr, n)
}

object IntVec {
  /** Zero-copy adoption of an existing array (size = its length). */
  def wrap(a: Array[Int]): IntVec = {
    val v = new IntVec(1)
    v.arr = a
    v.n = a.length
    v
  }
}
