package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `dot_product(a, b)` — the sequential dot product of two
  * `array<double>` columns as a native codegen'd Catalyst expression.
  *
  * This is the hot inner loop of the entire vector pack (v33–v40, the
  * LSH signature build, the incremental ANN index): as a higher-order
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (acc, v) -> acc + v)`
  * every element pays interpreted-lambda overhead; this expression is a
  * tight primitive loop inside whole-stage codegen.
  *
  * PARITY IS THE CONTRACT: the loop accumulates strictly sequentially —
  * `((0 + a₀b₀) + a₁b₁) + …` — the exact IEEE operation order of both
  * the HOF left-fold it replaces and DuckDB's `LIST_DOT_PRODUCT`, so
  * every oracle-gated cosine stays bit-identical. Do NOT "optimize"
  * this into a pairwise/vectorized summation: it would change results
  * at the last ulp and break the hash gates.
  *
  * Null semantics mirror the HOF formulation exactly: null array →
  * null; any null element → null; length mismatch → null (zip_with
  * pads with nulls, which poison the fold); two empty arrays → 0.0.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
      java.lang.Double ${ev.value}_r = graft.functions.DotProduct.compute($a, $b);
      if (${ev.value}_r == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = ${ev.value}_r.doubleValue();
      }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

object DotProduct {

  /** Strictly sequential accumulation — see the parity note above. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }
}
