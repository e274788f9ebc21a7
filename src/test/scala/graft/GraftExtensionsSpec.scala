package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions` deployment path: a session built with
  * [[graft.sql.GraftExtensions]] resolves every native graft function
  * with NO per-session register call — the contract a shared cluster
  * (thrift server, notebook service) relies on. The spec builds a
  * second SparkSession on the same SparkContext with the extensions
  * applied, proves the functions resolve there, and proves the
  * builders behave identically to the session-scoped `register` path.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val base = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def withExtendedSession[A](f: SparkSession => A): A = {
    val prev = base
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.sql.GraftExtensions)
        .getOrCreate()
      try f(s)
      finally s.catalog.clearCache()
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("extension-built session resolves all native functions without register calls") {
    withExtendedSession { s =>
      // scalar expressions — CPython semantics: 2.675 stores just BELOW
      // the boundary, so it rounds down (Python: round(2.675, 2) == 2.67)
      assert(s.sql("SELECT py_round(2.675, 2) AS r").head().getDouble(0) == 2.67)
      assert(s.sql("SELECT dot_product(array(1.0, 2.0), array(3.0, 4.0)) AS d")
        .head().getDouble(0) == 11.0)
      assert(s.sql("SELECT top_bigram_count(array('a', 'b', 'a', 'b')) AS c")
        .head().getLong(0) >= 1L)
      // unicode normalization: decomposed e+COMBINING ACUTE composes
      assert(s.sql("SELECT nfc_normalize('café') AS n").head().getString(0)
        == "café")
      assert(s.sql("SELECT nfkc_normalize('ﬁle Ａ') AS n").head().getString(0)
        == "file A")
      // ...and inside a higher-order-function lambda (the reason it is
      // a Catalyst expression, not a UDF)
      assert(s.sql("SELECT transform(array('café', 'ok'), x -> nfc_normalize(x)) AS a")
        .head().getSeq[String](0) == Seq("café", "ok"))
      // bounded top-k aggregate, with its (value desc, id asc) contract
      val top = s.sql(
        """SELECT top_k_by_value(v, id, 2) AS t FROM VALUES
           (1.0D, 10L), (3.0D, 30L), (2.0D, 20L), (3.0D, 7L) AS data(v, id)""")
        .head().getSeq[org.apache.spark.sql.Row](0)
      assert(top.map(r => (r.getDouble(0), r.getLong(1))) == Seq((3.0, 7L), (3.0, 30L)))
    }
  }

  test("top_k_by_value matches the row_number window on degenerate doubles") {
    // r16 (ADVICE): the aggregate replaced query-partitioned row_number
    // windows, so its ordering must match Spark's on the degenerate
    // doubles too — NaN (a 0/0 cosine from a zero-norm embedding) ranks
    // FIRST under desc, and -0.0 ties 0.0. The pre-fix buffer dropped a
    // NaN arriving after the buffer filled and split the zeros.
    graft.sql.GraftSql.registerFunctions(base)
    import base.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (1.0, 1L), (-0.0, 2L), (0.5, 3L), (Double.NaN, 4L), (Double.NaN, 5L),
      (-0.5, 6L), (0.0, 7L), (-1.0, 8L), (0.0, 9L))
    val df = rows.toDF("v", "id").repartition(3) // exercise merge() too
    val viaAgg = df.groupBy()
      .agg(expr("top_k_by_value(v, id, 6)").as("t"))
      .select(posexplode(col("t")))
      .select((col("pos") + 1).as("rk"), col("col.id").as("id"))
      .as[(Int, Long)].collect().toSeq.sortBy(_._1)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("v").desc, col("id"))
    val viaWindow = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 6)
      .select(col("rk"), col("id")).as[(Int, Long)].collect().toSeq.sortBy(_._1)
    assert(viaAgg == viaWindow)
    // pin the semantics explicitly: NaNs first (id asc), zeros tie by id
    assert(viaAgg.map(_._2) == Seq(4L, 5L, 1L, 3L, 2L, 7L))
  }

  test("injected builders match the session-scoped register path exactly") {
    // same SQL through the legacy per-session registration on the base
    // session — results must agree with the extension path
    graft.sql.GraftSql.registerFunctions(base)
    val viaRegister = base.sql("SELECT py_round(0.125, 2) AS r").head().getDouble(0)
    val viaExtension = withExtendedSession {
      _.sql("SELECT py_round(0.125, 2) AS r").head().getDouble(0)
    }
    assert(viaRegister == viaExtension)
    assert(viaExtension == 0.12) // half-to-even at the .5 boundary
  }
}
