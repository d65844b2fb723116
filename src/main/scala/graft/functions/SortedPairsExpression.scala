package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Generator emitting all index-ordered pairs (arr[i], arr[j]), i < j, of
  * an array column — the pair-expansion step of the df-capped n-gram
  * Jaccard path (each shingle's ≤ maxDf sorted doc ids fan out to
  * ≤ maxDf²/2 candidate pairs).
  *
  * The declarative spelling —
  * `explode(flatten(transform(ids, (b, j) => transform(slice(ids, 1, j),
  * a => struct(a, b)))))` — runs the nested higher-order functions
  * INTERPRETED (HOFs are CodegenFallback) with per-element lambda
  * expression trees, and materializes k prefix slices, k inner arrays,
  * and one flattened k(k−1)/2-struct array per shingle before explode
  * even starts. This generator yields the same rows straight from one
  * pass over the array elements: zero intermediate arrays, no per-element
  * expression trees. (Like every custom generator it evaluates outside
  * whole-stage codegen — exactly as the explode-of-flatten it replaces.)
  */
case class SortedPairsExpr(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  private lazy val et: DataType = child.dataType match {
    case ArrayType(t, _) => t
    case _ => NullType // rejected by checkInputDataTypes
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sorted_pairs expects an array, got ${other.simpleString}")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("i", et, nullable = true),
    StructField("j", et, nullable = true)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) Iterator.empty
    else {
      val n = arr.numElements()
      if (n < 2) Iterator.empty
      else {
        val elems = new Array[Any](n)
        var x = 0
        while (x < n) { elems(x) = arr.get(x, et); x += 1 }
        new Iterator[InternalRow] {
          private var j = 1
          private var i = 0
          override def hasNext: Boolean = j < n
          override def next(): InternalRow = {
            val r = new GenericInternalRow(Array[Any](elems(i), elems(j)))
            i += 1
            if (i == j) { j += 1; i = 0 }
            r
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): SortedPairsExpr =
    copy(child = c)

  override def prettyName: String = "sorted_pairs"
}

object SortedPairs {
  /** Column API entry; yields columns (i, j) when selected. */
  def sorted_pairs(arr: Column): Column = NativeFunctions.call("sorted_pairs", arr)
}
