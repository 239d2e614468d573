package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** Native point-in-polygons bitmask: bit f of the result is set iff
  * (px, py) lies inside service-area fence f (ray-cast parity over the
  * fixed star-octagon table — `Ext.fenceEdges` documents the geometry
  * and the IEEE exactness argument).
  *
  * Exists because Spark's higher-order functions (`aggregate`,
  * `transform`) are CodegenFallback: the declarative fold in
  * `Ext.fenceMaskExpr` evaluates interpreted, per row, with a lambda
  * dispatch per edge — fine for a 6-row rollup input, wrong for the
  * per-ping hot path of the dwell query and the streaming detector.
  * This expression is one static call on primitive doubles, fused into
  * whole-stage codegen; the edge table is a static primitive array built
  * with the SAME operation order as the Column arithmetic (Java double
  * ops ≡ Column double ops ≡ the DuckDB oracle's — all IEEE +,−,×,÷ — so
  * the mask is bit-identical across all three paths).
  */
case class GeofenceMask(left: Expression, right: Expression)
    extends KernelCall with BinaryLike[Expression] with ImplicitCastInputTypes {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "geofence_mask"
  override protected def accepts = Seq(Seq(DoubleType), Seq(DoubleType))

  override protected def kernel(a: Seq[Any]): Any =
    GeofenceMask.mask(a(0).asInstanceOf[Double], a(1).asInstanceOf[Double])

  override protected def javaCall(a: Seq[String]): String =
    s"graft.functions.GeofenceMask.mask(${a(0)}, ${a(1)})"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GeofenceMask =
    copy(left = newLeft, right = newRight)
}
object GeofenceMask {
  val Fences = 6
  private val Verts = 8
  private val Dxs = Array(3, 1, 0, -1, -3, -1, 0, 1)
  private val Dys = Array(0, 1, 3, 1, 0, -1, -3, -1)

  /** Flat (f, i) → (x1, y1, x2, y2) edge table. Every arithmetic step
    * mirrors `Ext.fenceEdges`' Column expressions operation for
    * operation — the doubles are bit-identical. */
  private val Edges: Array[Double] = {
    val a = new Array[Double](Fences * Verts * 4)
    var f = 0
    while (f < Fences) {
      val cx = 114.0 + (f.toLong * 37 % 100) * 0.001 + 0.003
      val cy = 22.0 + f * 0.015 + 0.005
      var i = 0
      while (i < Verts) {
        val k = (f * Verts + i) * 4
        a(k) = cx + Dxs(i) * 0.004
        a(k + 1) = cy + Dys(i) * 0.004
        a(k + 2) = cx + Dxs((i + 1) % Verts) * 0.004
        a(k + 3) = cy + Dys((i + 1) % Verts) * 0.004
        i += 1
      }
      f += 1
    }
    a
  }

  /** Straight-line ray cast over the static table — called from
    * generated code; no allocation, no virtual dispatch. */
  def mask(px: Double, py: Double): Int = {
    var m = 0
    var f = 0
    while (f < Fences) {
      var crossings = 0
      var i = 0
      while (i < Verts) {
        val k = (f * Verts + i) * 4
        val x1 = Edges(k); val y1 = Edges(k + 1)
        val x2 = Edges(k + 2); val y2 = Edges(k + 3)
        if (((y1 > py) != (y2 > py)) &&
            px < x1 + (py - y1) * (x2 - x1) / (y2 - y1)) crossings += 1
        i += 1
      }
      if ((crossings & 1) == 1) m |= 1 << f
      f += 1
    }
    m
  }
}
