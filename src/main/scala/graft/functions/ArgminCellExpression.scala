package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typedLit
import org.apache.spark.sql.types._

/** Nearest-centroid assignment (IVF cell id): argmin over k literal
  * centroids of the squared euclidean distance, lowest index on ties —
  * the per-row scalar of the k-means trainer and IVF cell attach
  * (Ann.assignCells).
  *
  * The declarative spelling evaluated k interpreted
  * `aggregate(zip_with(vec, lit(centroid), (x,c) => (x−c)²))` folds per
  * row (each allocating a product array), then `least()` + a when-chain
  * re-evaluating the distances again. This expression fuses everything
  * into one pass over the vector (per-centroid accumulators, same
  * left-to-right IEEE fold order per centroid — bit-identical distances),
  * and mirrors the old null/shape semantics: null vector, null element,
  * or length ≠ centroid dim → cell 0 (the zip_with null-padding collapsed
  * every distance to null and the when-chain fell through to 0).
  */
case class ArgminCellExpr(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {

  require(centroids.nonEmpty && centroids.forall(_.length == centroids(0).length),
    "centroids must be non-empty and same-dimensional")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"argmin_cell expects array<float|double>, got ${other.simpleString}")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0
    else ArgminCellOps.compute(v.asInstanceOf[ArrayData], centroids, isFloat)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val centsRef = ctx.addReferenceObj("cents", centroids, "double[][]")
    ev.copy(
      code = code"""
        ${c.code}
        int ${ev.value} = 0;
        if (!${c.isNull}) {
          ${ev.value} = graft.functions.ArgminCellOps.compute(
            ${c.value}, $centsRef, $isFloat);
        }""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): ArgminCellExpr =
    copy(child = c)

  // centroids is an Array — make equality/semanticHash structural
  override def equals(other: Any): Boolean = other match {
    case a: ArgminCellExpr =>
      a.child == child &&
        a.centroids.length == centroids.length &&
        a.centroids.zip(centroids).forall(p => p._1.sameElements(p._2))
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + centroids.map(_.toSeq).toSeq.hashCode()

  override def prettyName: String = "argmin_cell"
}

object ArgminCellOps {
  def compute(a: ArrayData, cents: Array[Array[Double]],
      isFloat: Boolean): Int = {
    val k = cents.length
    val dim = cents(0).length
    if (a.numElements() != dim) return 0
    val dist = new Array[Double](k)
    var j = 0
    while (j < dim) {
      if (a.isNullAt(j)) return 0 // old spelling: null element nulls all dists
      val x = if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)
      var c = 0
      while (c < k) {
        val d = x - cents(c)(j)
        dist(c) += d * d
        c += 1
      }
      j += 1
    }
    var best = 0
    var c = 1
    while (c < k) {
      if (dist(c) < dist(best)) best = c // strict <: lowest index wins ties
      c += 1
    }
    best
  }

  /** Column API entry. */
  def argmin_cell(vec: Column, centroids: Seq[Seq[Double]]): Column =
    NativeFunctions.call("argmin_cell", vec, typedLit(centroids))
}
