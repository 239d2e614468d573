package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helpers behind [[NormalizeUnicode]] — one per Unicode
  * normalization form so the codegen call site is a monomorphic static
  * invoke (no per-row Form dispatch).
  *
  * `Normalizer.isNormalized` is a cheap scan that is true for virtually
  * every row of a real web corpus (ASCII and already-composed text), so
  * the common path allocates nothing and returns the input UTF8String
  * unchanged; only rows that actually carry decomposed sequences pay the
  * compose walk.
  */
object NormalizeOps {
  def norm(str: UTF8String, form: Normalizer.Form): UTF8String = {
    val s = str.toString
    if (Normalizer.isNormalized(s, form)) str
    else UTF8String.fromString(Normalizer.normalize(s, form))
  }
  def nfc(str: UTF8String): UTF8String = norm(str, Normalizer.Form.NFC)
  def nfd(str: UTF8String): UTF8String = norm(str, Normalizer.Form.NFD)
  def nfkc(str: UTF8String): UTF8String = norm(str, Normalizer.Form.NFKC)
  def nfkd(str: UTF8String): UTF8String = norm(str, Normalizer.Form.NFKD)
}

/** Native Unicode-normalization expression (NFC/NFD/NFKC/NFKD).
  *
  * A text-curation pipeline normalizes BEFORE any hashing, shingling, or
  * exact-dedup stage — "café" composed and "café" decomposed must hash
  * identically or every downstream dedup silently treats them as distinct
  * documents. Spark has no normalization builtin, so without this the
  * stage would be a boxed Scala UDF on the hottest path of the corpus
  * scan; as a codegen'd expression it stays inside whole-stage codegen
  * with a zero-allocation fast path for already-normalized rows.
  *
  * The canonical-composition semantics are the Unicode standard's, so
  * DuckDB's `nfc_normalize` produces byte-identical output — which is what
  * lets the `text_normalize_nfc` driver gate hash-compare the two engines.
  */
case class NormalizeUnicode(child: Expression, form: String)
    extends KernelCall with UnaryLike[Expression] {

  private val formUpper = form.toUpperCase
  require(
    Set("NFC", "NFD", "NFKC", "NFKD").contains(formUpper),
    s"unsupported normalization form: $form")

  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_unicode"
  override protected def accepts = Seq(Seq(StringType))

  override protected def kernel(a: Seq[Any]): Any =
    NormalizeOps.norm(a(0).asInstanceOf[UTF8String], Normalizer.Form.valueOf(formUpper))

  override protected def javaCall(a: Seq[String]): String =
    s"graft.functions.NormalizeOps.${formUpper.toLowerCase}(${a(0)})"

  override protected def withNewChildInternal(newChild: Expression): NormalizeUnicode =
    copy(child = newChild)
}
