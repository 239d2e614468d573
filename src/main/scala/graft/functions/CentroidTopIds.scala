package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

import KernelCall.{floatElems, FloatArrays}

/** A trained coarse-quantizer model: centroid ids, vectors, and their
  * precomputed L2 norms, positionally aligned. Broadcast once and shared
  * by every [[CentroidTopIds]] in a plan — the nlist×dim matrix lives in
  * the broadcast store, NOT in the expression tree (the round-3 literal
  * formulation folded an O(nlist·dim) expression chain per column, a
  * planner/codegen blowup at any realistic nlist). */
final class CentroidModel(
    val cids: Array[Int],
    val vecs: Array[Array[Double]],
    val norms: Array[Double]) extends Serializable {
  require(cids.length == vecs.length && cids.length == norms.length,
    "cids/vecs/norms must align")
}

/** Static loop behind [[CentroidTopIds]]: cosine-score the vector against
  * every centroid and return the `topn` centroid ids, best first.
  *
  * Arithmetic parity with the Column formulation it replaces: score =
  * (sequential left-fold dot, floats widened to double per element) /
  * precomputed centroid norm; ties broken toward the LOWEST centroid id.
  * A zero-norm (degenerate) centroid scores -∞ and can never win — the
  * Column form's 0/0 division yielded NULL, which `greatest` skipped;
  * leaving the raw NaN here would have INVERTED that (`Double.compare`
  * ranks NaN above every real, so one zero seed would swallow the whole
  * corpus). Null on a null/length-mismatched vector or null elements —
  * the SeqDot contract.
  */
object CentroidMath {
  def topCids(vec: ArrayData, model: CentroidModel,
              floatElems: Boolean, topn: Int): ArrayData = {
    val n = vec.numElements()
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return null
      i += 1
    }
    val m = model.vecs.length
    val scores = new Array[Double](m)
    var c = 0
    while (c < m) {
      val cv = model.vecs(c)
      if (cv.length != n) return null
      var acc = 0.0
      var j = 0
      while (j < n) {
        val x = if (floatElems) vec.getFloat(j).toDouble else vec.getDouble(j)
        acc += x * cv(j)
        j += 1
      }
      scores(c) =
        if (model.norms(c) == 0.0) Double.NegativeInfinity
        else acc / model.norms(c)
      c += 1
    }
    // top-n selection by (score desc, cid asc): O(m·topn), topn is tiny
    val k = math.min(topn, m)
    val picked = new Array[Boolean](m)
    val out = new Array[Any](k)
    var r = 0
    while (r < k) {
      var best = -1
      var c2 = 0
      while (c2 < m) {
        if (!picked(c2)) {
          val cmp = if (best < 0) 1
            else {
              val d = java.lang.Double.compare(scores(c2), scores(best))
              if (d != 0) d else model.cids(best) - model.cids(c2)
            }
          if (cmp > 0) best = c2
        }
        c2 += 1
      }
      picked(best) = true
      out(r) = model.cids(best)
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** Native top-n centroid assignment over a broadcast [[CentroidModel]].
  *
  * `topn = 1` + `getItem(0)` is the corpus-side cell assignment;
  * `topn = nprobe` is the query-side probe list. One expression node per
  * column regardless of nlist — plan size and codegen are O(1) in the
  * centroid count, so the same plan shape serves nlist=8 and nlist=65536.
  */
case class CentroidTopIds(
    child: Expression,
    model: Broadcast[CentroidModel],
    topn: Int) extends KernelCall with UnaryLike[Expression] {

  require(topn >= 1, "topn >= 1")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "centroid_top_ids"
  override protected def accepts = Seq(FloatArrays)
  override protected def mayReturnNull = true
  override protected def shared = Some(model -> classOf[CentroidModel])

  override protected def kernel(a: Seq[Any]): Any =
    CentroidMath.topCids(a(0).asInstanceOf[ArrayData], model.value, floatElems(child), topn)

  override protected def javaCall(a: Seq[String]): String =
    s"graft.functions.CentroidMath.topCids(${a(0)}, ${a(1)}, ${floatElems(child)}, $topn)"

  override protected def withNewChildInternal(newChild: Expression): CentroidTopIds =
    copy(child = newChild)
}
