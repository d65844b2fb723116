package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count of whitespace tokens that equal any word in a small fixed set —
  * the language-marker / stopword counter of TextAnalysis.
  *
  * The declarative spelling `size(filter(split(text, " "), t.isin(...)))`
  * is a higher-order function: ArrayFilter is CodegenFallback (strips
  * whole-stage codegen from its projection) and evaluates an interpreted
  * predicate tree PER ELEMENT, after `split` has materialized the full
  * token array. This expression is one pass over the UTF8String bytes:
  * tokens are byte ranges between single 0x20 delimiters (split-" "
  * semantics, empty tokens kept — they never match a non-empty word), each
  * compared against the word set by length-then-bytes. No token array, no
  * per-element expression trees, real codegen.
  *
  * Matches `size(filter(split(text," "), isin(words)))` exactly for
  * non-null input; null in → null out (same as the HOF form under the
  * default non-legacy size(null) behavior).
  */
case class TokenSetCountExpr(child: Expression, words: Seq[String])
    extends UnaryExpression {

  require(words.nonEmpty, "word set must be non-empty")

  override val nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_set_count expects string, got ${child.dataType}")

  @transient private lazy val wordBytes: Array[Array[Byte]] =
    words.map(_.getBytes(StandardCharsets.UTF_8)).toArray

  override def nullSafeEval(v: Any): Any =
    TokenSetCount.compute(v.asInstanceOf[UTF8String], wordBytes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wordsRef = ctx.addReferenceObj("words", wordBytes, "byte[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenSetCount.compute($c, $wordsRef);")
  }

  override protected def withNewChildInternal(c: Expression): TokenSetCountExpr =
    copy(child = c)

  override def prettyName: String = "token_set_count"
}

object TokenSetCount {
  /** One byte pass: count tokens (0x20-delimited, split-" " semantics)
    * whose bytes equal any word. 0x20 never occurs inside a UTF-8
    * multi-byte sequence, so byte-level splitting is character-safe. */
  def compute(s: UTF8String, words: Array[Array[Byte]]): Int = {
    val b = s.getBytes
    val nb = b.length
    var count = 0
    var start = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || b(i) == 0x20) {
        val len = i - start
        var w = 0
        var matched = false
        while (w < words.length && !matched) {
          val wb = words(w)
          if (wb.length == len) {
            var k = 0
            while (k < len && b(start + k) == wb(k)) k += 1
            matched = k == len
          }
          w += 1
        }
        if (matched) count += 1
        start = i + 1
      }
      i += 1
    }
    count
  }

  /** Column API entry; the word set travels as an array literal, so any
    * word (commas included) matches exactly. */
  def token_set_count(text: Column, words: Seq[String]): Column =
    NativeFunctions.call("token_set_count", text,
      org.apache.spark.sql.functions.typedLit(words))
}
