package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static loop behind [[WordShingles]]: DISTINCT k-word shingles of a
  * token array, single pass, first-occurrence order.
  *
  * Mirrors the relational formulation it replaces byte-for-byte
  * (`Dedup.shingleRows`'s window-lead + concat_ws + distinct): shingle i
  * joins tokens i..i+k−1 with a single space, a window is kept only when
  * its LAST token is non-null, and null tokens inside a kept window are
  * skipped by the join exactly like `concat_ws`. (Split-produced token
  * arrays never contain nulls; the arms exist for parity, not use.)
  */
object ShingleOps {
  def distinctShingles(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i <= n - k) {
      if (!toks.isNullAt(i + k - 1)) {
        val parts = new Array[UTF8String](k)
        var j = 0
        var m = 0
        while (j < k) {
          if (!toks.isNullAt(i + j)) {
            parts(m) = toks.getUTF8String(i + j)
            m += 1
          }
          j += 1
        }
        seen.add(UTF8String.concatWs(sep,
          java.util.Arrays.copyOfRange(parts, 0, m): _*))
      }
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }
}

/** Native distinct k-shingle extraction over a token array column.
  *
  * Replaces the windowed relational build (posexplode → `lead` window →
  * concat_ws → distinct): shingling is a per-row computation, so pushing
  * it into the scan removes one full shuffle + per-doc sort from the
  * corpus-scale dedup pipeline AND makes the downstream `(id, s)` rows
  * distinct BY CONSTRUCTION (the set lives per doc), deleting the
  * distinct's exchange too. At 100 TB the shingle stage becomes
  * scan-local; the first shuffle in the ladder is the inverted-index
  * join itself.
  */
case class WordShingles(child: Expression, k: Int)
    extends KernelCall with UnaryLike[Expression] {

  require(k >= 2, "k >= 2 (use tokens directly for k = 1)")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override protected def accepts = Seq(Seq(ArrayType(StringType)))

  override protected def kernel(a: Seq[Any]): Any =
    ShingleOps.distinctShingles(a(0).asInstanceOf[ArrayData], k)

  override protected def javaCall(a: Seq[String]): String =
    s"graft.functions.ShingleOps.distinctShingles(${a(0)}, $k)"

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}
