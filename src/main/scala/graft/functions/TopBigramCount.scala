package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `top_bigram_count(words)` — the multiplicity of the most frequent
  * adjacent-word bigram of a word array (the numerator of the
  * Gopher-style repetition statistic).
  *
  * Semantically identical to exploding `words[i] || ' ' || words[i+1]`
  * and taking `MAX(COUNT(*))` per document, but evaluated per ROW in one
  * compiled pass (build bigrams, binary-sort, longest equal run) instead
  * of shuffling every bigram occurrence twice — per-document statistics
  * should never leave the row. Returns 0 for arrays with < 2 elements.
  *
  * A Catalyst expression (not a UDF) so it composes with codegen'd
  * projections; the eval itself is CodegenFallback — one virtual call
  * per row into a tight JVM loop, which is already compiled code.
  */
case class TopBigramCount(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) 0L
    else {
      // Bigrams touching a null word are skipped (a null word is not a
      // word, so it forms no adjacent pair) — mirrors how the exploded
      // formulation drops null-producing concats before counting.
      val sep = UTF8String.fromString(" ")
      val bgs = new Array[AnyRef](n - 1)
      var m = 0
      var i = 0
      while (i < n - 1) {
        if (!arr.isNullAt(i) && !arr.isNullAt(i + 1)) {
          bgs(m) = UTF8String.concat(arr.getUTF8String(i), sep, arr.getUTF8String(i + 1))
          m += 1
        }
        i += 1
      }
      if (m == 0) 0L
      else {
        // UTF8String compares bytewise; any total order groups equal
        // bigrams adjacently, which is all the run scan needs.
        java.util.Arrays.sort(bgs, 0, m)
        var best = 1L
        var run = 1L
        var j = 1
        while (j < m) {
          if (bgs(j).equals(bgs(j - 1))) run += 1 else run = 1
          if (run > best) best = run
          j += 1
        }
        best
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "top_bigram_count"
}
