package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `nfc_normalize(s)` / `nfkc_normalize(s)` — Unicode canonical (NFC)
  * and compatibility (NFKC) normalization as a Catalyst expression.
  *
  * Text pipelines normalize BEFORE any hash-keyed stage: the composed
  * and decomposed spellings of the same word ("café" as U+00E9 vs
  * e+U+0301) are different byte strings, so unnormalized corpora leak
  * duplicates past exact/MinHash/substring dedup and split term
  * statistics across spellings. NFC is the safe canonical default;
  * NFKC additionally folds compatibility forms (ligatures ﬁ→fi,
  * fullwidth Ａ→A) — the fold aggressive tokenizer pipelines apply.
  *
  * A Catalyst expression (with codegen) rather than a UDF so it
  * composes inside higher-order-function lambdas
  * (`transform(words, w -> nfc_normalize(w))`) and stays in
  * whole-stage codegen. Normalization of assigned codepoints is
  * stable across Unicode versions (UAX#15 stability policy), which is
  * what makes the cross-engine oracle (DuckDB's utf8proc vs the JDK's
  * implementation — independent codebases) a meaningful differential.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {

  private val jform = Normalizer.Form.valueOf(form)

  // a non-string argument is an analysis error, not a runtime
  // ClassCastException mid-job (the house pattern of the sibling
  // expressions)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    UnicodeNormalize.normalize(input.asInstanceOf[UTF8String], jform)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"""graft.functions.UnicodeNormalize.normalize($v,
            java.text.Normalizer.Form.$form)""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = form.toLowerCase + "_normalize"
}

object UnicodeNormalize {

  def normalize(s: UTF8String, form: Normalizer.Form): UTF8String = {
    val str = s.toString
    // the common case is already-normalized ASCII/NFC text: isNormalized
    // is a cheap scan that skips the rebuild for it
    if (Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(Normalizer.normalize(str, form))
  }
}
