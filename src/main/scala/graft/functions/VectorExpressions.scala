package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst dot product over two numeric-array columns — the hot
  * scalar of the ANN/similarity operators.
  *
  * The declarative spelling (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`)
  * builds an intermediate array per row and evaluates INTERPRETED
  * (higher-order functions are CodegenFallback), so at 10^10 rows the dot
  * product dominates. This expression evaluates as one fused loop with NO
  * intermediate allocation, and `doGenCode` inlines that loop into
  * whole-stage codegen. Arithmetic is the same left-to-right double fold as
  * the HOF/ DuckDB `list_dot_product` form — bit-identical results, so the
  * oracle queries stay hash-green either way.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override val nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  // Only fixed-width primitive element types: every accepted type has a typed
  // ArrayData getter on both the interpreted and generated paths. Decimal (not
  // a java.lang.Number) and other exotic numerics are rejected up front rather
  // than failing at runtime.
  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(et @ (FloatType | DoubleType | IntegerType | LongType |
                         ShortType | ByteType), _) => Some(et)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left.dataType), elemType(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"dot_product expects arrays of float/double/int/long/short/byte, " +
          s"got ${left.dataType}, ${right.dataType}")
    }

  @inline private def get(a: ArrayData, et: DataType, i: Int): Double = et match {
    case FloatType   => a.getFloat(i).toDouble
    case DoubleType  => a.getDouble(i)
    case IntegerType => a.getInt(i).toDouble
    case LongType    => a.getLong(i).toDouble
    case ShortType   => a.getShort(i).toDouble
    case ByteType    => a.getByte(i).toDouble
    case _ => throw new IllegalStateException(s"unreachable: $et") // guarded by checkInputDataTypes
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val etA = elemType(left.dataType).get
    val etB = elemType(right.dataType).get
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += get(a, etA, i) * get(b, etB, i); i += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(et: DataType, arr: String, i: String): String = et match {
      case FloatType   => s"(double) $arr.getFloat($i)"
      case DoubleType  => s"$arr.getDouble($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case LongType    => s"(double) $arr.getLong($i)"
      case ShortType   => s"(double) $arr.getShort($i)"
      case ByteType    => s"(double) $arr.getByte($i)"
      case _ => throw new IllegalStateException(s"unreachable: $et") // guarded by checkInputDataTypes
    }
    val etA = elemType(left.dataType).get
    val etB = elemType(right.dataType).get
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${getter(etA, a, i)} * ${getter(etB, b, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

object VectorExpressions {
  /** Column API entry. */
  def dot_product(a: Column, b: Column): Column =
    NativeFunctions.call("dot_product", a, b)
}
