package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** md5(str || suffix) decomposed into two SIGN-FLIPPED longs, straight from
  * the 16 digest bytes — struct(a = bytes[0..7] big-endian ^ MIN_LONG,
  * b = bytes[8..15] big-endian ^ MIN_LONG).
  *
  * Purpose: feed the fixed-width [[MinLongPair]] aggregate. Signed
  * lexicographic (a, b) order equals unsigned 128-bit order equals the
  * lexicographic order of the 32-char lowercase hex digest, so
  * min_long_pair over these pairs is EXACTLY min over md5 hex strings —
  * re-hex with `lpad(lower(hex(x ^ MIN_LONG)), 16, '0')` after the
  * aggregate for bit-identical output.
  *
  * Why not built-ins: the conv/substring spelling re-evaluates the full
  * md5 four times per value (once under each 8-hex-char slice — the
  * aggregate's update expressions duplicate their child tree, and neither
  * CollapseProject nor codegen CSE rescues aggregate inputs), and the
  * built-in `md5` pays a 32-char hex ENCODE that this path immediately
  * re-parses. One digest, zero hex round-trips, no string concat (the
  * suffix is digested as a second update).
  */
case class Md5PairExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override val nullIntolerant: Boolean = true
  override def dataType: DataType =
    StructType(Seq(StructField("a", LongType), StructField("b", LongType)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"md5_pair128 expects (string, string), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def nullSafeEval(l: Any, r: Any): Any =
    Md5Pair128.compute(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Md5Pair128.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Md5PairExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "md5_pair128"
}

object Md5Pair128 {
  // MessageDigest is stateful; one per thread, reset by digest() itself.
  private val localMd = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** One MD5 of (s ++ suffix) UTF-8 bytes (concat of UTF-8 strings ==
    * concat of their byte encodings) → sign-flipped (hi, lo) longs. */
  def compute(s: UTF8String, suffix: UTF8String): InternalRow = {
    val md = localMd.get()
    md.update(s.getBytes)
    md.update(suffix.getBytes)
    val d = md.digest() // resets for the next call
    var hi = 0L
    var lo = 0L
    var i = 0
    while (i < 8) { hi = (hi << 8) | (d(i) & 0xffL); i += 1 }
    while (i < 16) { lo = (lo << 8) | (d(i) & 0xffL); i += 1 }
    new GenericInternalRow(
      Array[Any](hi ^ Long.MinValue, lo ^ Long.MinValue))
  }

  /** Column API entry. */
  def md5_pair128(s: Column, suffix: Column): Column =
    NativeFunctions.call("md5_pair128", s, suffix)
}
