package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.fic.FicTransform
import graft.functions.{Similarity, SpanishDate}

/** SQL-facing surface: register the engine's scalar functions and the
  * corpus tables so everything is reachable from `spark.sql(...)` —
  * the thin relational surface of SURVEY §7.1.
  */
object GraftSql {

  /** Register all custom functions for SQL use.
    *
    * The native Catalyst expressions (`py_round`, `dot_product`, …:
    * codegen'd, usable in higher-order lambdas) come from
    * [[GraftExtensions.register]]; the rest are procedural string
    * algorithms registered as UDFs.
    */
  def registerFunctions(spark: SparkSession): Unit = {
    import graft.functions.Registration.once
    GraftExtensions.register(spark)
    once(spark, "parse_spanish_date") { spark.udf.register("parse_spanish_date",
      (s: String) => SpanishDate.parse(s)) }
    once(spark, "lcs_similarity") { spark.udf.register("lcs_similarity",
      (a: String, b: String) => Similarity.lcsSimilarity(a, b)) }
    once(spark, "difflib_ratio") { spark.udf.register("difflib_ratio",
      (a: String, b: String) => Similarity.ratio(a, b)) }
    once(spark, "clean_monetary") { spark.udf.register("clean_monetary",
      (v: java.lang.Double) => FicTransform.limpiarValor(v)) }
    once(spark, "normalize_bank") { spark.udf.register("normalize_bank",
      (s: String) => if (s == null) null else FicTransform.normalizeBankName(s.toLowerCase)) }
    once(spark, "normalize_fund") { spark.udf.register("normalize_fund",
      (s: String) => if (s == null) null else FicTransform.normalizeFundName(s)) }
    once(spark, "match_agency") { spark.udf.register("match_agency",
      (s: String) => if (s == null) null
        else FicTransform.matchAgency(s.toUpperCase.trim).orNull) }
  }

  /** Create temp views for every synthetic-corpus table in `dir`.
    * Goes through the dedicated loaders (not bare parquet reads) so
    * table-specific handling — e.g. the events nanosecond-timestamp
    * conversion — applies to the SQL surface too.
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    val loaders: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    // per-table isolation: one unreadable/ill-typed table must degrade
    // one view, not abort init and take the 9 healthy tables with it
    // (mirrors registerOperatorViews below)
    loaders.foreach { case (t, load) =>
      try load(spark, dir).createOrReplaceTempView(t)
      catch { case e: Exception =>
        System.err.println(s"[graft-sql] skipping table view $t: ${e.getMessage}")
      }
    }
  }

  /** Operators whose PLAN CONSTRUCTION already runs Spark jobs —
    * training a model artifact or iterating to a fixed point —
    * so registering their views is not free: `init` skips them and a
    * caller opts in via [[registerEagerViews]] to pay for the build up
    * front. Membership is audited by `graft.tools.ProfileGate`'s
    * `build_jobs` column (jobs started while building each gate's
    * DataFrame): t46 trains a Bloom
    * sketch (`df.stat.bloomFilter` collects), t40/t52 run the
    * connected-components loop to convergence, t51/t59 run the BPE
    * merge loop (t59 then encodes with the trained ranks), t58/t61
    * (and t62, which composes t61) train the 256-bucket DSIR/unigram
    * model, and t50 loads the query-vocabulary idf statistics from the
    * document-frequency index. The model artifacts are memoized per
    * (session, dir), so the training pass runs once, not per query —
    * the layout that wins at corpus scale, paid for by eager
    * registration.
    */
  val EagerArtifactViews: Set[String] = Set(
    "t46_bloom_decontaminate", "t40_dedup_clusters",
    "t52_dedup_survivors", "t51_bpe_train", "t59_bpe_encode",
    // t86 trains the byte-level merge table at plan build (t51's loop
    // over byte-remapped words)
    "t86_bpe_byte_train",
    // t74 composes t59's trained tokenizer — same BPE loop at plan build
    "t74_tokenizer_fertility",
    "t50_lexical_topk", "t58_dsir_weights", "t61_unigram_surprise",
    "t62_source_dashboard",
    // t69 trains the 256²-entry bigram model at plan build (collected
    // once per session/dir, inlined as an array literal — the t58
    // pattern one model order up)
    "t69_bigram_surprise",
    // t77 trains the per-lang bucket models at plan build (same
    // bounded-artifact collect)
    "t77_langid_confusion",
    // t78 runs t40's connected-components fixed point at plan build
    "t78_cluster_split",
    // t67 collects its query-idf statistics from the corpus at plan
    // build (same retrieval model artifact as t50)
    "t67_chunk_retrieval")

  /** Register every non-eager catalog operator as a LAZY temp view
    * named after its gate id (`t28_minhash_lsh`, `v38_ann_quantized`,
    * …): `createOrReplaceTempView` stores the logical plan, nothing
    * runs until a `spark.sql` query actually reads the view — so
    * registering this catalog is free, and a SQL user can join operator
    * outputs (`SELECT * FROM t40_dedup_clusters WHERE NOT
    * is_canonical`) without touching the Scala API. Operators in
    * [[EagerArtifactViews]] would break that contract (their plan
    * build trains a model with a real Spark job), so they are left to
    * [[registerEagerViews]].
    */
  def registerOperatorViews(spark: SparkSession, dir: String): Unit =
    graft.SparkEntry.queries.foreach { case (name, build) =>
      // building a plan eagerly lists/infers its source files, and some
      // operators read fixture folders a deployment may not have — skip
      // those views instead of failing the whole init
      if (!EagerArtifactViews.contains(name)) {
        try build(spark, dir).createOrReplaceTempView(name)
        catch { case e: Exception =>
          System.err.println(s"[graft-sql] skipping view $name: ${e.getMessage}")
        }
      }
    }

  /** Opt-in registration of the eager-artifact operators: runs their
    * model-training jobs (bounded — the t46 sketch is one pass over the
    * benchmark docs' shingles) at call time so the views exist for SQL
    * users who want them.
    */
  def registerEagerViews(spark: SparkSession, dir: String): Unit =
    graft.SparkEntry.queries.view.filterKeys(EagerArtifactViews).foreach {
      case (name, build) =>
        try build(spark, dir).createOrReplaceTempView(name)
        catch { case e: Exception =>
          System.err.println(s"[graft-sql] skipping eager view $name: ${e.getMessage}")
        }
    }

  /** One-call setup: functions + table views + the free operator
    * catalog. Eager-artifact views are NOT included — see
    * [[registerEagerViews]].
    */
  def init(spark: SparkSession, dir: String): Unit = {
    registerFunctions(spark)
    registerViews(spark, dir)
    registerOperatorViews(spark, dir)
  }
}
