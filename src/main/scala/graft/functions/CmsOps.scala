package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.util.sketch.CountMinSketch

/** Frequency estimate of a long key against a broadcast count-min sketch
  * (`org.apache.spark.util.sketch.CountMinSketch`, the public Spark
  * sketch `DataFrameStatFunctions.countMinSketch` builds).
  *
  * The deployment shape: exact heavy-hitter mining shuffles every
  * distinct token; the sketch is built in ONE scan with no shuffle
  * (counter updates are commutative integer adds, so partial sketches
  * merge in any order — the estimate is deterministic), costs
  * width×depth×8 bytes regardless of corpus size, and estimates obey
  * `exact ≤ est ≤ exact + ε·N` (the upper bound with the configured
  * confidence) — never an undercount. Probing is a per-row counter-array
  * read against the broadcast copy; the corpus side stays in codegen. */
case class CmsEstimateLong(child: Expression, sketch: Broadcast[CountMinSketch])
    extends KernelCall with UnaryLike[Expression] {

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate_long"
  override protected def accepts = Seq(Seq(LongType))
  override protected def shared = Some(sketch -> classOf[CountMinSketch])

  override protected def kernel(a: Seq[Any]): Any =
    sketch.value.estimateCount(a(0).asInstanceOf[Long])

  override protected def javaCall(a: Seq[String]): String =
    s"(${a(1)}).estimateCount(java.lang.Long.valueOf(${a(0)}))"

  override protected def withNewChildInternal(newChild: Expression): CmsEstimateLong =
    copy(child = newChild)
}
