package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `py_round(x, n)` — CPython's `round(float, n)` semantics: round the
  * EXACT binary value of the double to n decimal places, ties to even.
  *
  * This differs from Spark's `round` (HALF_UP over the shortest decimal
  * representation) and from `bround` (HALF_EVEN over the shortest
  * representation): CPython rounds the full decimal expansion of the
  * IEEE value (`new BigDecimal(double)`), which matters exactly at
  * representable ties (e.g. 0.015625 → 6 dp). The reference rounds every
  * converted percentage with Python `round(x, 6)`
  * (/root/reference/src/etl/transform.py:580,596,648) and money with
  * `round(x, 2)` (transform.py:86), so golden parity needs this exact
  * semantic.
  *
  * Implemented as a Catalyst expression (with codegen) rather than a UDF
  * so it can be used inside higher-order-function lambdas
  * (`transform(arr, x -> py_round(x, 6))`), which accept only Catalyst
  * expressions.
  */
case class PyRound(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(value: Any, scale: Any): Any =
    PyRound.round(value.asInstanceOf[Double], scale.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, s) => s"graft.functions.PyRound.round($v, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "py_round"
}

object PyRound {
  /** Exact-value decimal rounding, half-to-even — CPython round(). */
  def round(v: Double, scale: Int): Double = {
    if (v.isNaN || v.isInfinite) v
    else new JBigDecimal(v).setScale(scale, RoundingMode.HALF_EVEN).doubleValue()
  }
}
