package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Sign-bit LSH bucket id over `planes` fixed hyperplanes — the bucketing
  * scalar of the ANN scale path (Ann.lshTopK).
  *
  * The declarative spelling ran, PER ROW and PER PLANE,
  * `aggregate(zip_with(vec, sequence(0, dim−1), (x, j) => x *
  * sign(xxhash64(j, p))), 0.0, _+_)` — an interpreted HOF fold that
  * allocates a sequence array and a product array per plane and, worst of
  * all, re-evaluates `xxhash64(j, p)` for every (element × plane) of every
  * row even though both arguments are constants of the plan. This
  * expression precomputes the ±1 sign table ONCE at construction (the
  * exact same hash chain: XXH64.hashInt(p, XXH64.hashInt(j, 42))) and
  * fuses all planes into one pass over the vector — no allocations, no
  * hashing, real codegen.
  *
  * Semantics mirror the HOF spelling bit-for-bit: per-plane projection is
  * the same left-to-right double fold. A null vector, a null element or a
  * vector SHORTER than `dim` yields bucket 0 (zip_with's null-padding of
  * the vector collapsed every plane's fold to null, and
  * `when(null > 0).otherwise(0)` summed to 0). Elements PAST `dim` still
  * count: zip_with padded the index with null, and xxhash64 skips null
  * inputs, so their sign is that of xxhash64(p) alone.
  */
case class LshBucketExpr(child: Expression, dim: Int, planes: Int)
    extends UnaryExpression {

  require(dim >= 1 && planes >= 1 && planes <= 30,
    s"bad lsh params: dim=$dim planes=$planes")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket expects array<float|double>, got ${other.simpleString}")
  }

  @transient private lazy val signs: Array[Array[Double]] =
    LshBucketOps.signTable(dim, planes)

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0
    else LshBucketOps.compute(v.asInstanceOf[ArrayData], signs, isFloat)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val signsRef = ctx.addReferenceObj("signs", signs, "double[][]")
    ev.copy(
      code = code"""
        ${c.code}
        int ${ev.value} = 0;
        if (!${c.isNull}) {
          ${ev.value} = graft.functions.LshBucketOps.compute(
            ${c.value}, $signsRef, $isFloat);
        }""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): LshBucketExpr =
    copy(child = c)

  override def prettyName: String = "lsh_bucket"
}

object LshBucketOps {
  /** signs(p)(j) = +1 iff pmod(xxhash64(j, p), 2) == 0, with the exact
    * chain Spark's two-arg xxhash64 uses on int inputs:
    * hashInt(p, hashInt(j, 42)). The extra column signs(p)(dim) is the sign
    * of every element past `dim`: xxhash64(null, p) = hashInt(p, 42). */
  def signTable(dim: Int, planes: Int): Array[Array[Double]] =
    Array.tabulate(planes, dim + 1) { (p, j) =>
      val h =
        if (j < dim) XXH64.hashInt(p, XXH64.hashInt(j, 42L))
        else XXH64.hashInt(p, 42L)
      if (((h % 2) + 2) % 2 == 0) 1.0 else -1.0
    }

  def compute(a: ArrayData, signs: Array[Array[Double]],
      isFloat: Boolean): Int = {
    val planes = signs.length
    val dim = signs(0).length - 1
    val n = a.numElements()
    if (n < dim) return 0
    val proj = new Array[Double](planes)
    var j = 0
    while (j < n) {
      if (a.isNullAt(j)) return 0 // old spelling: null element nulls every fold
      val x = if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)
      val s = math.min(j, dim)
      var p = 0
      while (p < planes) { proj(p) += x * signs(p)(s); p += 1 }
      j += 1
    }
    var bucket = 0
    var p = 0
    while (p < planes) { if (proj(p) > 0) bucket |= 1 << p; p += 1 }
    bucket
  }

  /** Column API entry. */
  def lsh_bucket(vec: Column, dim: Int, planes: Int): Column =
    NativeFunctions.call("lsh_bucket", vec, lit(dim), lit(planes))
}
