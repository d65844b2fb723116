package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native distinct word-n-gram shingles — the scan-stage hot loop of the
  * dedup family (Dedup.shingles feeds jaccard, minhash, LSH; TextAnalysis
  * uses it for the repetition score).
  *
  * The declarative spelling (split + transform over an index sequence +
  * array_distinct) runs interpreted (HOFs are CodegenFallback) and
  * re-evaluates sub-expressions per element. This expression makes ONE
  * byte-level pass, exploiting that tokens are split on SINGLE 0x20 bytes
  * (0x20 never occurs inside a UTF-8 multi-byte sequence): a shingle of
  * tokens [i, i+n) re-joined with single spaces is EXACTLY the original
  * byte range from token i's first byte to token i+n-1's last byte. So the
  * whole computation is: one scan for space positions, then m zero-copy
  * UTF8String views over one shared byte array, deduped through a hash set
  * — no String decode, no split allocation, no StringBuilder re-encode.
  * Byte-compatible with the oracle's string_split + positional concat
  * (single-space separator, empty tokens preserved — exactly
  * java.lang.String.split(" ", -1) semantics the HOF form had).
  *
  * `doGenCode` hands the input UTF8String straight to the static helper —
  * previously this was CodegenFallback, which forces the surrounding
  * whole-stage-codegen'd Generate to materialize an InternalRow per input
  * row just to call eval().
  */
case class WordNgramsExpr(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"ngram size must be >= 1, got $n")

  override val nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_ngrams expects string, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    WordNgrams.compute(v.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordNgrams.compute($c, $n);")

  override protected def withNewChildInternal(c: Expression): WordNgramsExpr =
    copy(child = c)

  override def prettyName: String = "word_ngrams"
}

object WordNgrams {
  /** Distinct n-gram byte-range views over `s`, first-occurrence order. */
  def compute(s: UTF8String, n: Int): GenericArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    // single pass for delimiter positions (space = one 0x20 byte; all bytes
    // of UTF-8 multi-byte sequences are >= 0x80, so this cannot split
    // inside a character)
    var spaces = new Array[Int](16)
    var ns = 0
    var i = 0
    while (i < nb) {
      if (bytes(i) == 0x20) {
        if (ns == spaces.length)
          spaces = java.util.Arrays.copyOf(spaces, ns * 2)
        spaces(ns) = i
        ns += 1
      }
      i += 1
    }
    // numToks = ns + 1 (split(" ", -1): empty tokens, incl. trailing, kept)
    val m = ns + 2 - n
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    var t = 0
    while (t < m) {
      // shingle t spans tokens [t, t+n): from the byte after space t-1 to
      // the byte before space t+n-1 (or the ends of the string)
      val start = if (t == 0) 0 else spaces(t - 1) + 1
      val end = if (t + n - 1 < ns) spaces(t + n - 1) else nb
      seen.add(UTF8String.fromBytes(bytes, start, end - start))
      t += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }
}

object NgramExpression {
  def word_ngrams(text: Column, n: Int): Column =
    NativeFunctions.call("word_ngrams", text, org.apache.spark.sql.functions.lit(n))
}
