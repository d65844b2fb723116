package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function

/** The one registration point of graft's native Catalyst functions: a
  * name → builder table, installed idempotently in a session's function
  * registry. Every Column entry (`word_ngrams`, `dot_product`, …) calls
  * through [[call]], so the Column API and SQL resolve the same builders.
  * Builders fold their literal arguments (n-gram size, LSH shape, word
  * set, centroids) into the expression at analysis time. */
object NativeFunctions {

  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  private def array(e: Expression): ArrayData = e.eval().asInstanceOf[ArrayData]

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "word_ngrams" -> (e => WordNgramsExpr(e(0), int(e(1)))),
    "token_set_count" -> { e =>
      val ws = array(e(1))
      TokenSetCountExpr(e(0), (0 until ws.numElements()).map(ws.getUTF8String(_).toString))
    },
    "sorted_pairs" -> (e => SortedPairsExpr(e(0))),
    "lsh_bucket" -> (e => LshBucketExpr(e(0), int(e(1)), int(e(2)))),
    "argmin_cell" -> { e =>
      val cs = array(e(1))
      ArgminCellExpr(e(0), Array.tabulate(cs.numElements())(cs.getArray(_).toDoubleArray()))
    },
    "dot_product" -> (e => DotProductExpr(e(0), e(1))),
    "min_long_pair" -> (e => MinLongPair(e(0), e(1))),
    "md5_pair128" -> (e => Md5PairExpr(e(0), e(1))))

  /** Install every builder not yet in `spark`'s registry (idempotent). */
  private def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }

  /** Call native function `name`, registering on the active session first. */
  private[functions] def call(name: String, args: Column*): Column = {
    SparkSession.getActiveSession.foreach(register)
    call_function(name, args: _*)
  }
}
