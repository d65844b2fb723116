package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types._

/** Lexicographic MIN over a pair of signed longs — a fixed-width (2×8-byte
  * mutable) aggregation buffer, so the aggregate is HashAggregate-eligible
  * with map-side partial aggregation.
  *
  * Why it exists: `min` over a StringType (e.g. an md5 hex digest) carries a
  * string aggregation buffer, which UnsafeRow cannot mutate in place, so the
  * whole aggregation falls back to SortAggregate — the exploded input stream
  * gets SORTED by group key on both the partial and final sides. Splitting a
  * fixed-width 128-bit value into two sign-flipped longs (signed
  * lexicographic order == unsigned order == hex-string order) keeps the
  * buffer mutable: HashAggregate, no sorts, same result bit-for-bit after
  * re-hexing. Used by the md5-basis MinHash signatures (oracle hash-gated).
  *
  * Null contract (matches built-in `min` / SQL MIN): a row with EITHER
  * component null is skipped, so the buffer only ever holds a complete
  * pair; a group with no such rows evaluates to a null struct.
  */
case class MinLongPair(a: Expression, b: Expression)
    extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(a, b)
  override def nullable: Boolean = true
  override def dataType: DataType =
    StructType(Seq(StructField("a", LongType), StructField("b", LongType)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (a.dataType == LongType && b.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"min_long_pair expects (bigint, bigint), got " +
          s"(${a.dataType.simpleString}, ${b.dataType.simpleString})")

  private lazy val minA = AttributeReference("minA", LongType)()
  private lazy val minB = AttributeReference("minB", LongType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(minA, minB)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(null, LongType), Literal.create(null, LongType))

  /** (xa, xb) < (ya, yb), lexicographic on signed longs. */
  private def lt(xa: Expression, xb: Expression,
                 ya: Expression, yb: Expression): Expression =
    Or(LessThan(xa, ya), And(EqualTo(xa, ya), LessThan(xb, yb)))

  override lazy val updateExpressions: Seq[Expression] = {
    val skip = Or(IsNull(a), IsNull(b))
    val take = Or(IsNull(minA), lt(a, b, minA, minB))
    Seq(
      If(skip, minA, If(take, a, minA)),
      If(skip, minB, If(take, b, minB)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val take =
      Or(IsNull(minA.left), lt(minA.right, minB.right, minA.left, minB.left))
    Seq(
      If(IsNull(minA.right), minA.left, If(take, minA.right, minA.left)),
      If(IsNull(minA.right), minB.left, If(take, minB.right, minB.left)))
  }

  override lazy val evaluateExpression: Expression =
    If(IsNull(minA), Literal.create(null, dataType),
      CreateNamedStruct(Seq(Literal("a"), minA, Literal("b"), minB)))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(a = newChildren(0), b = newChildren(1))

  override def prettyName: String = "min_long_pair"
}

object MinPairExpression {
  /** Column API entry. */
  def min_long_pair(a: Column, b: Column): Column =
    NativeFunctions.call("min_long_pair", a, b)
}
