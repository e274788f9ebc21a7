package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.fic.{FicShredder, FicSchema, FicTransform, FicLookup}
import graft.sql.GraftSql

/** The `spark.sql` surface: registered functions + corpus views. */
class SqlSurfaceSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("custom functions callable from SQL, including inside HOF lambdas") {
    spark.sparkContext.setLogLevel("WARN")
    GraftSql.registerFunctions(spark)
    val r = spark.sql("""
      SELECT parse_spanish_date('31-jul-25') AS d,
             py_round(2.675, 2) AS r,
             lcs_similarity('sumar', 'sumarpersonas') AS s,
             difflib_ratio('MOODYS', 'MOODY''S') AS dr,
             clean_monetary(CAST(23232542280000.0 AS DOUBLE)) AS m,
             match_agency('fitch ratings colombia') AS a,
             transform(array(66.96D, 0.5D), x -> py_round(x / 100, 6)) AS arr
    """).head()
    assert(r.getString(0) == "2025-07-31")
    assert(r.getDouble(1) == 2.67)
    assert(r.getDouble(2) == 0.9)
    assert(r.getDouble(3) > 0.9)
    assert(r.getDouble(4) == 23232.54)
    assert(r.getString(5) == "FITCH")
    assert(r.getSeq[Double](6) == Seq(0.6696, 0.005))
  }

  test("corpus views queryable via SQL") {
    GraftSql.init(spark, "/root/testdata/sf0.001")
    val n = spark.sql(
      "SELECT COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .head().getLong(0)
    assert(n > 0)
  }

  test("one poisoned table degrades one view, not the whole SQL surface") {
    spark.sparkContext.setLogLevel("WARN")
    // corpus clone with a corrupt events.parquet: registerViews must
    // still register the other 9 tables (r7: the events loader threw and
    // took down GraftSql.init wholesale)
    val tmp = java.nio.file.Files.createTempDirectory("poisoned_corpus")
    val src = java.nio.file.Paths.get("/root/testdata/sf0.001")
    java.nio.file.Files.list(src).forEach { p =>
      java.nio.file.Files.copy(p, tmp.resolve(p.getFileName.toString))
    }
    java.nio.file.Files.writeString(
      tmp.resolve("events.parquet"), "this is not parquet")
    try {
      spark.catalog.dropTempView("events")
      GraftSql.registerViews(spark, tmp.toString)
      val healthy = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings")
      healthy.foreach { t =>
        assert(spark.sql(s"SELECT COUNT(*) FROM $t").head().getLong(0) > 0, t)
      }
      assert(!spark.catalog.tableExists("events"))
    } finally {
      // re-register against the healthy corpus for sibling tests
      GraftSql.registerViews(spark, "/root/testdata/sf0.001")
    }
  }

  test("operator catalog registered as lazy SQL views") {
    GraftSql.init(spark, "/root/testdata/sf0.001")
    // every gate query is a view; reading one runs the operator
    val dup = spark.sql(
      "SELECT COUNT(*) FROM t25_dedup_exact WHERE NOT is_canonical")
      .head().getLong(0)
    assert(dup >= 0)
    val joined = spark.sql("""
      SELECT COUNT(*) FROM t31_quality_score q
      JOIN t33_split s ON q.doc_id >= 0 AND s.split = 'train'""")
      .head().getLong(0)
    assert(joined > 0)
    graft.operators.SessionMemo.release(spark)
  }

  test("eager-artifact views are excluded from free init, available on opt-in") {
    // a NEW operator whose plan build trains an artifact must go into
    // EagerArtifactViews, not the free catalog — count Spark jobs
    // during registerOperatorViews and fail on any (this round: t67's
    // idf collect would have leaked silently without the counter)
    val jobs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(js.stageInfos.map(_.name).mkString("; "))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      GraftSql.registerOperatorViews(spark, "/root/testdata/sf0.001")
      Thread.sleep(1000) // listener events post asynchronously
      // source listing/schema jobs are inherent to building a plan over
      // files; what must NOT happen here is model TRAINING — collects,
      // counts, writes (t67's idf collect, the BPE loop, …)
      val training = jobs.toArray.map(_.toString).filterNot(d =>
        d.contains("Listing leaf files") || d.contains("parquet") ||
        d.contains("json") || d.contains("binaryFile"))
      assert(training.isEmpty,
        s"free operator-view registration ran training job(s):\n  " +
          training.mkString("\n  "))
    } finally spark.sparkContext.removeSparkListener(listener)
    GraftSql.init(spark, "/root/testdata/sf0.001")
    // init must stay plan-construction-only: sketch training (t46),
    // the components loops (t40/t52) and the BPE merge loop (t51) all
    // run real jobs at plan build, so none of them is in the catalog
    GraftSql.EagerArtifactViews.foreach { v =>
      assert(!spark.catalog.tableExists(v),
        s"eager-artifact view $v leaked into the free init catalog")
    }
    GraftSql.registerEagerViews(spark, "/root/testdata/sf0.001")
    val n = spark.sql("SELECT COUNT(*) FROM t46_bloom_decontaminate")
      .head().getLong(0)
    assert(n >= 0)
    val surv = spark.sql("SELECT COUNT(*) FROM t52_dedup_survivors")
      .head().getLong(0)
    assert(surv > 0)
    graft.operators.SessionMemo.release(spark)
  }

  test("typed dataset core over the shredded star") {
    val dir = ReferenceCorpus.assumeRawJson()
    import org.apache.spark.sql.functions._
    val raw = spark.read.option("multiLine", true).schema(FicSchema.raw)
      .json(s"$dir/*.json")
      .withColumn("filename", regexp_extract(input_file_name(), "([^/]+)$", 1))
    val sh = FicShredder(FicTransform(raw, FicLookup(Nil)))
    val comps = graft.fic.FicModel.composiciones(sh)
    // compile-time typed: groupByKey over the case class
    import spark.implicits._
    val byTipo = comps.groupByKey(_.tipo_composicion).count().collect().toMap
    assert(byTipo.keySet.contains("activo"))
    val heads = graft.fic.FicModel.heads(sh).collect()
    assert(heads.length == 7)
    assert(heads.forall(_._2.tipo.contains("Renta Fija")))
  }
}
