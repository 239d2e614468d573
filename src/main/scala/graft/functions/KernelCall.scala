package graft.functions

import scala.collection.immutable.ArraySeq

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/** One native Catalyst function: a static kernel called on the non-null
  * values of its arguments, from the interpreted path and from generated
  * code alike. Each function stays its own case class, so Catalyst
  * compares two calls structurally (exchange reuse and subexpression
  * elimination need that; a node carrying a closure compares by
  * reference). The class names its kernel as a Scala call ([[kernel]])
  * and as Java text ([[javaCall]]); this base owns the rest:
  *  - the type check, from one accepted-type list per argument;
  *  - null handling: a null argument gives null without a kernel call, and
  *    a kernel that returns null for a bad input makes the result nullable;
  *  - the generated code, in the shapes of Spark's `UnaryExpression` and
  *    `BinaryExpression.nullSafeCodeGen`: the call assigned directly, or
  *    through a boxed temp and a null check when it may return null;
  *  - the dereference of a broadcast model, filter or sketch, registered
  *    as a reference before the arguments' code is generated.
  * Subclasses mix in `UnaryLike` or `BinaryLike` for their children. One
  * that mixes in `ImplicitCastInputTypes` casts each argument to its first
  * accepted type and keeps Spark's type check and message.
  */
abstract class KernelCall extends Expression {

  /** The types each argument accepts, in argument order. */
  protected def accepts: Seq[Seq[DataType]]

  /** The kernel, on the arguments' non-null values. */
  protected def kernel(args: Seq[Any]): Any

  /** The same call as Java source. `args` holds the arguments' generated
    * values, then the dereferenced [[shared]] value when there is one. */
  protected def javaCall(args: Seq[String]): String

  /** True when the kernel returns null for a bad input; it then returns
    * `ArrayData` or a boxed primitive. */
  protected def mayReturnNull: Boolean = false

  /** The broadcast the kernel reads, and the class its value is cast to. */
  protected def shared: Option[(Broadcast[_], Class[_])] = None

  /** The type an `ImplicitCastInputTypes` subclass casts each argument to. */
  def inputTypes: Seq[DataType] = accepts.map(_.head)

  override def nullable: Boolean = mayReturnNull || children.exists(_.nullable)

  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    if (got.corresponds(accepts)((t, ok) => ok.exists(KernelCall.sameType(t, _))))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs ${accepts.map(_.map(_.sql).mkString("|")).mkString(" / ")}, " +
        s"got ${got.map(_.sql).mkString(" / ")}")
  }

  override def eval(input: InternalRow): Any = {
    val args = new Array[Any](children.length)
    var i = 0
    while (i < args.length) {
      args(i) = children(i).eval(input)
      if (args(i) == null) return null
      i += 1
    }
    kernel(ArraySeq.unsafeWrapArray(args))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val value = shared.map { case (bc, cls) =>
      val name = cls.getSimpleName.head.toLower + cls.getSimpleName.tail + "Bc"
      s"(${cls.getName}) (((org.apache.spark.broadcast.Broadcast) " +
        s"${ctx.addReferenceObj(name, bc)}).value())"
    }
    val gens = children.map(_.genCode(ctx))
    val call = javaCall(gens.map(_.value.toString) ++ value)
    val (javaType, default) =
      (CodeGenerator.javaType(dataType), CodeGenerator.defaultValue(dataType))
    val result =
      if (!mayReturnNull) s"${ev.value} = $call;"
      else {
        val tmp = ctx.freshName("kernel")
        val (boxed, unbox) = dataType match {
          case _: ArrayType => ("org.apache.spark.sql.catalyst.util.ArrayData", "")
          case _ =>
            (s"java.lang.${CodeGenerator.boxedType(dataType)}", s".${javaType}Value()")
        }
        s"""
           |$boxed $tmp = $call;
           |if ($tmp == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $tmp$unbox; }
         """.stripMargin
      }
    if (!nullable) {
      ev.copy(code = code"""
        ${gens.map(_.code).reduce(_ + _)}
        $javaType ${ev.value} = $default;
        $result""", isNull = FalseLiteral)
    } else if (gens.size == 1) {
      val g = gens.head
      ev.copy(code = code"""
        ${g.code}
        boolean ${ev.isNull} = ${g.isNull};
        $javaType ${ev.value} = $default;
        ${ctx.nullSafeExec(children.head.nullable, g.isNull.toString)(result)}
      """)
    } else {
      val set = s"""
              ${ev.isNull} = false; // resultCode could change nullability.
              $result
            """
      val body = children.zip(gens).foldRight(set) { case ((c, g), inner) =>
        g.code.toString + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $body
      """)
    }
  }
}

object KernelCall {
  val FloatArrays: Seq[DataType] = Seq(FloatType, DoubleType).map(ArrayType(_))
  val IntegralArrays: Seq[DataType] =
    Seq(IntegerType, LongType, ShortType, ByteType).map(ArrayType(_))
  val NumericArrays: Seq[DataType] = FloatArrays ++ IntegralArrays
  val IntArrays: Seq[DataType] = Seq(ArrayType(IntegerType))

  /** The element type of an array-typed argument, and whether it is float. */
  def elemType(e: Expression): DataType = e.dataType.asInstanceOf[ArrayType].elementType
  def floatElems(e: Expression): Boolean = elemType(e) == FloatType

  /** Equal types, whatever an array's `containsNull`. */
  private def sameType(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(x, _), ArrayType(y, _)) => x == y
    case _ => a == b
  }
}
