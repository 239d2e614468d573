package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

import KernelCall.{floatElems, FloatArrays, IntArrays}

/** A trained product-quantization codebook (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011): the embedding
  * space is split into `m` contiguous coordinate blocks of `subDim` dims;
  * each block has its own small centroid table. A vector encodes to `m`
  * small integers — 100 TB of raw float embeddings (256 B/vector at
  * dim=64) become m×4 B codes the ranking scan can read instead, and the
  * full vectors are touched only to re-rank a candidate set.
  *
  * Rides the broadcast store like [[CentroidModel]] (one nlist×dim-sized
  * object shared by every expression in the plan, never in the expression
  * tree). `norms2` holds per-(block, code) SQUARED L2 norms: coordinate
  * blocks are orthogonal, so the reconstruction norm of a code word is
  * exactly `sqrt(Σ_m norms2(m)(code_m))` — no cross terms. */
final class PqModel(
    val m: Int,
    val subDim: Int,
    val codebooks: Array[Array[Array[Double]]]) extends Serializable {
  require(codebooks.length == m, "one codebook per subspace")
  val norms2: Array[Array[Double]] =
    codebooks.map(_.map(c => { var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }; s }))
  def dim: Int = m * subDim
}

/** Static loops behind [[PqCodes]] / [[PqAdc]] / [[PqReconNorm]] — same
  * contract family as [[VectorMath]]: sequential left-fold accumulation
  * (floats widened to double per element), null on null elements or a
  * length mismatch against the model's dim. */
object PqMath {

  /** Encode: per block, the L2-nearest centroid's INDEX (argmin of
    * ‖x−c‖², which for fixed x is argmax of dot(x,c) − ‖c‖²/2 — the
    * ‖x‖² term is constant per comparison and dropped). Ties break
    * toward the lowest code, mirroring [[CentroidMath]]'s lowest-cid
    * rule. */
  def encode(vec: ArrayData, model: PqModel, floatElems: Boolean): ArrayData = {
    val n = vec.numElements()
    if (n != model.dim) return null
    var i = 0
    while (i < n) {
      if (vec.isNullAt(i)) return null
      i += 1
    }
    val out = new Array[Any](model.m)
    var b = 0
    while (b < model.m) {
      val cb = model.codebooks(b)
      val n2 = model.norms2(b)
      val off = b * model.subDim
      var best = -1
      var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < cb.length) {
        val cv = cb(c)
        var acc = 0.0
        var j = 0
        while (j < model.subDim) {
          val x = if (floatElems) vec.getFloat(off + j).toDouble
            else vec.getDouble(off + j)
          acc += x * cv(j)
          j += 1
        }
        val score = acc - n2(c) / 2.0
        if (score > bestScore) { bestScore = score; best = c }
        c += 1
      }
      out(b) = best
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Asymmetric distance computation: the exact dot product of the RAW
    * query against the RECONSTRUCTED corpus vector, block by block —
    * `Σ_m dot(q_block_m, codebook(m)(code_m))`. Per-pair cost is O(dim)
    * like an exact dot; the scale win is what the scan READS (m ints,
    * not dim floats). */
  def adcDot(qvec: ArrayData, codes: ArrayData, model: PqModel,
             floatElems: Boolean): java.lang.Double = {
    if (qvec.numElements() != model.dim) return null
    if (codes.numElements() != model.m) return null
    var acc = 0.0
    var b = 0
    while (b < model.m) {
      if (codes.isNullAt(b)) return null
      val code = codes.getInt(b)
      if (code < 0 || code >= model.codebooks(b).length) return null
      val cv = model.codebooks(b)(code)
      val off = b * model.subDim
      var j = 0
      while (j < model.subDim) {
        if (qvec.isNullAt(off + j)) return null
        val x = if (floatElems) qvec.getFloat(off + j).toDouble
          else qvec.getDouble(off + j)
        acc += x * cv(j)
        j += 1
      }
      b += 1
    }
    acc
  }

  /** L2 norm of `base + decode(codes)` — the IVF-PQ reconstruction norm,
    * where `base` is the coarse centroid and the codes encode the
    * RESIDUAL. Not block-decomposable (base and residual blocks are not
    * orthogonal), so it walks the full dim once: flat left-to-right
    * accumulation of `(base_i + cb_i)²`. Null on null elements or any
    * size mismatch. */
  def reconNormPlus(base: ArrayData, codes: ArrayData, model: PqModel,
      baseFloat: Boolean): java.lang.Double = {
    if (base.numElements() != model.dim) return null
    if (codes.numElements() != model.m) return null
    var acc = 0.0
    var b = 0
    while (b < model.m) {
      if (codes.isNullAt(b)) return null
      val code = codes.getInt(b)
      if (code < 0 || code >= model.codebooks(b).length) return null
      val cv = model.codebooks(b)(code)
      val off = b * model.subDim
      var j = 0
      while (j < model.subDim) {
        if (base.isNullAt(off + j)) return null
        val x = (if (baseFloat) base.getFloat(off + j).toDouble
          else base.getDouble(off + j)) + cv(j)
        acc += x * x
        j += 1
      }
      b += 1
    }
    math.sqrt(acc)
  }

  /** L2 norm of the reconstructed code word: `sqrt(Σ_m ‖c_m‖²)` — exact
    * because coordinate blocks are orthogonal. */
  def reconNorm(codes: ArrayData, model: PqModel): java.lang.Double = {
    if (codes.numElements() != model.m) return null
    var acc = 0.0
    var b = 0
    while (b < model.m) {
      if (codes.isNullAt(b)) return null
      val code = codes.getInt(b)
      if (code < 0 || code >= model.norms2(b).length) return null
      acc += model.norms2(b)(code)
      b += 1
    }
    math.sqrt(acc)
  }
}

/** Native PQ encoder over a broadcast [[PqModel]]: one expression node
  * emits all `m` codes in a single pass over the vector — plan size and
  * codegen are O(1) in both the block count and the per-block centroid
  * count. Null on a null/mis-sized vector or null elements. */
case class PqCodes(child: Expression, model: Broadcast[PqModel])
    extends KernelCall with UnaryLike[Expression] {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"
  override protected def accepts = Seq(FloatArrays)
  override protected def mayReturnNull = true
  override protected def shared = Some(model -> classOf[PqModel])

  override protected def kernel(a: Seq[Any]): Any =
    PqMath.encode(a(0).asInstanceOf[ArrayData], model.value, floatElems(child))

  override protected def javaCall(a: Seq[String]): String =
    s"graft.functions.PqMath.encode(${a(0)}, ${a(1)}, ${floatElems(child)})"

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** ADC score: exact dot of a raw query vector (left) against the
  * reconstruction of a PQ code array (right), via the broadcast model. */
case class PqAdc(left: Expression, right: Expression, model: Broadcast[PqModel])
    extends KernelCall with BinaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"
  override protected def accepts = Seq(FloatArrays, IntArrays)
  override protected def mayReturnNull = true
  override protected def shared = Some(model -> classOf[PqModel])

  override protected def kernel(a: Seq[Any]): Any =
    PqMath.adcDot(a(0).asInstanceOf[ArrayData], a(1).asInstanceOf[ArrayData],
      model.value, floatElems(left))

  override protected def javaCall(a: Seq[String]): String =
    s"graft.functions.PqMath.adcDot(${a(0)}, ${a(1)}, ${a(2)}, ${floatElems(left)})"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

/** IVF-PQ reconstruction norm: `‖base + decode(codes)‖` where `base` is
  * the coarse centroid column and the codes encode the residual. */
case class PqReconNormPlus(left: Expression, right: Expression,
    model: Broadcast[PqModel]) extends KernelCall with BinaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_recon_norm_plus"
  override protected def accepts = Seq(FloatArrays, IntArrays)
  override protected def mayReturnNull = true
  override protected def shared = Some(model -> classOf[PqModel])

  override protected def kernel(a: Seq[Any]): Any =
    PqMath.reconNormPlus(a(0).asInstanceOf[ArrayData], a(1).asInstanceOf[ArrayData],
      model.value, floatElems(left))

  override protected def javaCall(a: Seq[String]): String =
    s"graft.functions.PqMath.reconNormPlus(${a(0)}, ${a(1)}, ${a(2)}, ${floatElems(left)})"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqReconNormPlus =
    copy(left = newLeft, right = newRight)
}

/** Reconstruction norm of a PQ code array via the broadcast model. */
case class PqReconNorm(child: Expression, model: Broadcast[PqModel])
    extends KernelCall with UnaryLike[Expression] {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_recon_norm"
  override protected def accepts = Seq(IntArrays)
  override protected def mayReturnNull = true
  override protected def shared = Some(model -> classOf[PqModel])

  override protected def kernel(a: Seq[Any]): Any =
    PqMath.reconNorm(a(0).asInstanceOf[ArrayData], model.value)

  override protected def javaCall(a: Seq[String]): String =
    s"graft.functions.PqMath.reconNorm(${a(0)}, ${a(1)})"

  override protected def withNewChildInternal(newChild: Expression): PqReconNorm =
    copy(child = newChild)
}
