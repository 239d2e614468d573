package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe of a long column against a broadcast Bloom filter
  * (`org.apache.spark.util.sketch.BloomFilter`, the public Spark sketch
  * `DataFrameStatFunctions.bloomFilter` builds).
  *
  * The deployment shape this serves: a keep/drop set too large to
  * broadcast EXACTLY (a multi-benchmark contamination shingle set at
  * corpus scale) compresses to a fixed-size bit array with a chosen
  * false-positive rate and NO false negatives — the conservative
  * direction for decontamination, where a false positive only drops a
  * safe document. The filter rides the broadcast store (one copy per
  * executor); the probe is a pure bit test, so the corpus side stays in
  * whole-stage codegen and never shuffles. */
case class BloomMightContainLong(child: Expression, filter: Broadcast[BloomFilter])
    extends KernelCall with UnaryLike[Expression] {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain_long"
  override protected def accepts = Seq(Seq(LongType))
  override protected def shared = Some(filter -> classOf[BloomFilter])

  override protected def kernel(a: Seq[Any]): Any =
    filter.value.mightContainLong(a(0).asInstanceOf[Long])

  override protected def javaCall(a: Seq[String]): String =
    s"(${a(1)}).mightContainLong(${a(0)})"

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainLong =
    copy(child = newChild)
}
