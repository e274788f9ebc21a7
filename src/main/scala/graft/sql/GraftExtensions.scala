package graft.sql

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{DotProduct, PyRound, Registration, TopBigramCount, TopKAgg}

/** Cluster-wide registration of the engine's native Catalyst
  * expressions through Spark's standard extension point:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.sql.GraftExtensions …
  * // or programmatically:
  * SparkSession.builder().withExtensions(new GraftExtensions).…
  * }}}
  *
  * [[GraftExtensions.register]] writes the same table into one
  * session's function registry for ad-hoc sessions; this class is the
  * deployment path — injected functions exist in EVERY session
  * built on the configured context (thrift server, notebook kernels,
  * scheduled jobs) with no driver-side call, which is how a shared
  * cluster actually ships a function library. Only the codegen'd
  * native expressions ride here; the procedural string UDFs
  * (parse_spanish_date, difflib_ratio, …) stay session-scoped in
  * [[GraftSql.registerFunctions]] because they are ScalaUDF-backed.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def info(name: String, clazz: Class[_], usage: String) =
    new ExpressionInfo(clazz.getName, null, name, usage, "")

  /** The injectable function set — the one table behind both the
    * extension class and the session-scoped [[register]], so a query
    * resolves identically whichever path registered the function. The
    * value children of `py_round` and `dot_product` are cast to double
    * (array<double>), so SQL decimal literals and array<float>
    * embedding columns work directly.
    */
  private[graft] val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("py_round"),
      info("py_round", classOf[PyRound], "py_round(x, scale) - CPython-exact half-even decimal rounding"),
      (es: Seq[Expression]) => PyRound(Cast(es(0), DoubleType), es(1))),
    (FunctionIdentifier("dot_product"),
      info("dot_product", classOf[DotProduct], "dot_product(a, b) - sequential IEEE dot product of two numeric arrays"),
      (es: Seq[Expression]) => DotProduct(
        Cast(es(0), ArrayType(DoubleType)), Cast(es(1), ArrayType(DoubleType)))),
    (FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", classOf[graft.functions.UnicodeNormalize], "nfc_normalize(s) - Unicode canonical (NFC) normalization"),
      (es: Seq[Expression]) => graft.functions.UnicodeNormalize(es(0), "NFC")),
    (FunctionIdentifier("nfkc_normalize"),
      info("nfkc_normalize", classOf[graft.functions.UnicodeNormalize], "nfkc_normalize(s) - Unicode compatibility (NFKC) normalization"),
      (es: Seq[Expression]) => graft.functions.UnicodeNormalize(es(0), "NFKC")),
    (FunctionIdentifier("top_bigram_count"),
      info("top_bigram_count", classOf[TopBigramCount], "top_bigram_count(words) - count of the most frequent adjacent pair"),
      (es: Seq[Expression]) => TopBigramCount(es(0))),
    (FunctionIdentifier("top_k_by_value"),
      info("top_k_by_value", classOf[TopKAgg], "top_k_by_value(value, id, k) - bounded top-k (value, id) aggregate"),
      (es: Seq[Expression]) => TopKAgg(es(0), es(1),
        es(2).eval().asInstanceOf[Number].intValue).toAggregateExpression()),
  )

  /** Register every native function in `spark`'s own function registry
    * (idempotent: a name already present — e.g. in an extension-built
    * session — is left as it is).
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      Registration.once(spark, id.funcName) {
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
      }
    }
}
