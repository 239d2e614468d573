package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType, ShortType}

import KernelCall.{elemType, IntegralArrays, NumericArrays}
import VectorMath.typeCode

/** Static loops behind [[SeqDot]] — sequential left-fold accumulation,
  * bit-identical to `aggregate(zip_with(a, b, (x,y) => x*y), 0.0, _+_)`
  * and to DuckDB's `list_reduce(list_prepend(0.0, …), +)`: same operand
  * order, float widened to double before each multiply. Null on length
  * mismatch or null elements (the HOF form's null-propagation). */
object VectorMath {
  // four element-type specializations (FF/DD/FD/DF) so the hot loop has
  // no per-element branching; each float widens to double before the
  // multiply, exactly like the HOF's per-element cast("double")
  def seqDotFF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  def seqDotDD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  def seqDotFD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getDouble(i)
      i += 1
    }
    acc
  }

  def seqDotDF(a: ArrayData, b: ArrayData): java.lang.Double =
    seqDotFD(b, a)

  /** Element-type codes for the widening compat path (any numeric array
    * combination outside the four float/double fast paths above). */
  def typeCode(dt: DataType): Int = dt match {
    case FloatType => 0
    case DoubleType => 1
    case IntegerType => 2
    case LongType => 3
    case ShortType => 4
    case _ => 5 // ByteType
  }
  def typeCode(arg: Expression): Int = typeCode(elemType(arg))

  @inline private def elemD(arr: ArrayData, i: Int, c: Int): Double = c match {
    case 0 => arr.getFloat(i).toDouble
    case 1 => arr.getDouble(i)
    case 2 => arr.getInt(i).toDouble
    case 3 => arr.getLong(i).toDouble
    case 4 => arr.getShort(i).toDouble
    case _ => arr.getByte(i).toDouble
  }

  /** Generic widening fold: every element cast to double before the
    * multiply, exactly like the HOF form's per-element cast("double") —
    * preserves the old `aggregate(zip_with(...))` contract for integral
    * arrays (the per-element switch is on a loop-constant code; branch
    * prediction makes it near-free, and the fast paths above cover the
    * hot float/double similarity loops). */
  def seqDotGen(a: ArrayData, b: ArrayData, ac: Int, bc: Int): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += elemD(a, i, ac) * elemD(b, i, bc)
      i += 1
    }
    acc
  }

  @inline private def elemL(arr: ArrayData, i: Int, c: Int): Long = c match {
    case 2 => arr.getInt(i).toLong
    case 3 => arr.getLong(i)
    case 4 => arr.getShort(i).toLong
    case _ => arr.getByte(i).toLong
  }

  /** Exact integer dot product with a long accumulator — each element
    * widens to long BEFORE the multiply (the HOF it replaces multiplied in
    * int then cast, which could wrap on large inputs; for the int8
    * quantization domain both are exact, and integer addition is
    * order-insensitive so the result is engine-independent). */
  def seqDotLong(a: ArrayData, b: ArrayData, ac: Int, bc: Int): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      // same loud-overflow contract as seqL2Long (ADVICE r8)
      acc = Math.addExact(acc, Math.multiplyExact(elemL(a, i, ac), elemL(b, i, bc)))
      i += 1
    }
    acc
  }

  /** Exact integer squared L2 distance, long accumulator — the k-means /
    * coreset hot loop (`Σ (aᵢ − bᵢ)²` over quantized vectors): integer
    * adds are order-insensitive, so the distance (and every argmin built
    * on it) is bit-exact across engines. Null on length mismatch or null
    * elements, like the HOF composition it replaces. */
  def seqL2Long(a: ArrayData, b: ArrayData, ac: Int, bc: Int): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = elemL(a, i, ac) - elemL(b, i, bc)
      // the type check admits ANY array<bigint>, so a non-quantized
      // long vector must fail loudly instead of wrapping silently — the
      // scaladoc's exactness claim is a contract (ADVICE r8). The exact
      // intrinsics stay a primitive loop (no boxing, codegen-inlinable).
      acc = Math.addExact(acc, Math.multiplyExact(d, d))
      i += 1
    }
    acc
  }
}

/** Native sequential dot product over two float/double array columns.
  *
  * The `aggregate(zip_with(...))` composition it replaces runs
  * INTERPRETED (higher-order lambdas never enter whole-stage codegen —
  * see NOTES.md "hard-won facts"), allocating a zipped array and a boxed
  * accumulator per row; inside an O(pairs) similarity join that lambda
  * tax dominates. This expression is one fused primitive loop, while
  * keeping the exact left-fold accumulation order, so every
  * oracle-verified cosine/dot score stays bit-identical.
  */
case class SeqDot(left: Expression, right: Expression)
    extends KernelCall with BinaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "seq_dot"
  override protected def accepts = Seq(NumericArrays, NumericArrays)
  override protected def mayReturnNull = true

  // (method, trailing Java arguments, loop): a fast path for the four
  // float/double pairs, the widening generic loop for every other pair
  @transient private lazy val loop: (String, String, (ArrayData, ArrayData) => Any) =
    (elemType(left), elemType(right)) match {
      case (FloatType, FloatType) => ("seqDotFF", "", VectorMath.seqDotFF)
      case (DoubleType, DoubleType) => ("seqDotDD", "", VectorMath.seqDotDD)
      case (FloatType, DoubleType) => ("seqDotFD", "", VectorMath.seqDotFD)
      case (DoubleType, FloatType) => ("seqDotDF", "", VectorMath.seqDotDF)
      case _ =>
        val (lc, rc) = (typeCode(left), typeCode(right))
        ("seqDotGen", s", $lc, $rc", VectorMath.seqDotGen(_, _, lc, rc))
    }

  override protected def kernel(a: Seq[Any]): Any =
    loop._3(a(0).asInstanceOf[ArrayData], a(1).asInstanceOf[ArrayData])

  override protected def javaCall(a: Seq[String]): String =
    s"graft.functions.VectorMath.${loop._1}(${a(0)}, ${a(1)}${loop._2})"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SeqDot =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot product over two integral array columns, long
  * accumulator — the codegen'd sibling of [[SeqDot]] for quantized
  * vectors (`Similarity.intDot`): integer addition is order-insensitive,
  * so the result is bit-exact in any engine, and the fused loop replaces
  * the interpreted `aggregate(zip_with(...))` HOF that dominated the
  * O(pairs) quantized ranking. Null on length mismatch / null elements. */
case class SeqDotLong(left: Expression, right: Expression)
    extends KernelCall with BinaryLike[Expression] {

  override def dataType: DataType = LongType
  override def prettyName: String = "seq_dot_long"
  override protected def accepts = Seq(IntegralArrays, IntegralArrays)
  override protected def mayReturnNull = true

  override protected def kernel(a: Seq[Any]): Any = VectorMath.seqDotLong(
    a(0).asInstanceOf[ArrayData], a(1).asInstanceOf[ArrayData], typeCode(left), typeCode(right))

  override protected def javaCall(a: Seq[String]): String =
    s"graft.functions.VectorMath.seqDotLong(${a(0)}, ${a(1)}, ${typeCode(left)}, ${typeCode(right)})"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SeqDotLong =
    copy(left = newLeft, right = newRight)
}

/** Exact integer squared-L2 distance over two integral array columns —
  * the codegen'd hot loop behind the k-means assignment and coreset
  * medoid election ([[graft.queries.Ext.kmeansAssign]]): one fused
  * primitive loop instead of the interpreted
  * `aggregate(zip_with(a, b, (x,y) => (x−y)²))` HOF, with the same
  * null-propagation contract. Integer adds are order-insensitive, so
  * the distance is bit-exact in any engine. */
case class SeqL2Long(left: Expression, right: Expression)
    extends KernelCall with BinaryLike[Expression] {

  override def dataType: DataType = LongType
  override def prettyName: String = "seq_l2_long"
  override protected def accepts = Seq(IntegralArrays, IntegralArrays)
  override protected def mayReturnNull = true

  override protected def kernel(a: Seq[Any]): Any = VectorMath.seqL2Long(
    a(0).asInstanceOf[ArrayData], a(1).asInstanceOf[ArrayData], typeCode(left), typeCode(right))

  override protected def javaCall(a: Seq[String]): String =
    s"graft.functions.VectorMath.seqL2Long(${a(0)}, ${a(1)}, ${typeCode(left)}, ${typeCode(right)})"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SeqL2Long =
    copy(left = newLeft, right = newRight)
}
