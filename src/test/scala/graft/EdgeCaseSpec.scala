package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fic.{FicLookup, FicSchema, FicTransform}
import graft.operators.TextOps

/** Edge cases pinned after review: tiny documents through the shingle
  * pipeline, falsy date passthrough.
  */
class EdgeCaseSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("dedup pipeline survives documents with fewer than 3 words") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tinydocs").toString
    Seq(
      (0L, "one", "en", "s", 3L),
      (1L, "two words", "en", "s", 9L),
      (2L, "now three words", "en", "s", 15L),
      (3L, "now three words", "en", "s", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // 1- and 2-word docs produce no shingles; the 3-word duplicates match
    val jac = TextOps.qNgramJaccard(spark, dir).collect()
    assert(jac.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 3L)))
    assert(jac.head.getDouble(2) == 1.0)
    val lsh = TextOps.qMinhashLsh(spark, dir).collect()
    assert(lsh.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 3L)))
  }

  test("t27 guard refuses a degenerate hot-shingle corpus, passes a benign one") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hotshingle").toString
    // 60 docs all sharing the 3-gram "spam spam spam": df=60 — the guard
    // must refuse before the ~df²/2 pair expansion, naming the scale paths
    (0L until 60L).map(i => (i, s"spam spam spam unique$i", "en", "s", 25L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[RuntimeException](
      TextOps.qNgramJaccardGuarded(spark, dir, maxDf = 50L))
    assert(e.getMessage.contains("df=60") && e.getMessage.contains("t38"))
    // under the cap the guarded form returns exactly the baseline
    val ok = TextOps.qNgramJaccardGuarded(spark, dir, maxDf = 60L)
    assert(ok.collect().sameElements(TextOps.qNgramJaccard(spark, dir).collect()))
    graft.operators.SessionMemo.release(spark)
  }

  test("top_bigram_count tolerates null elements and rejects non-array input") {
    import spark.implicits._
    graft.sql.GraftExtensions.register(spark)
    val rows = Seq(
      Tuple1(Seq[String]("a", "b", "a", "b")),          // bigrams: ab ba ab -> 2
      Tuple1(Seq[String]("a", null, "a", "b", "a", "b")), // null pairs skipped -> 2
      Tuple1(Seq[String](null, null)),                  // all pairs null -> 0
      Tuple1(Seq[String]("only")),                      // < 2 words -> 0
      Tuple1(null: Seq[String]))                        // null array -> null
      .toDF("words")
    val out = rows.selectExpr("top_bigram_count(words) AS c").collect()
    assert(out.map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq ==
      Seq(2L, 2L, 0L, 0L, -1L))
    // non-array argument is an analysis-time error, not a runtime CCE
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("x").selectExpr("top_bigram_count(x)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("array"))
  }

  test("falsy dates pass through the transform unchanged") {
    import spark.implicits._
    val raw = Seq(
      """{"fic": {"nombre_fic": "F", "gestor": "G", "custodio": null,
        | "fecha_corte": "", "politica_de_inversion": "renta fija"},
        | "calificacion": {"calificacion": "A",
        | "fecha_ultima_calificacion": null, "entidad_calificadora": ""}}"""
        .stripMargin)
    val df = raw.toDF("json")
      .withColumn("doc", from_json(col("json"), FicSchema.raw))
      .select(lit("b_f_raw.json").as("filename"), col("doc.*"))
    val out = FicTransform(df, FicLookup(Nil)).head()
    val fic = out.getStruct(out.fieldIndex("fic"))
    assert(fic.getAs[String]("fecha_corte") == "")       // "" stays ""
    val cal = out.getStruct(out.fieldIndex("calificacion"))
    assert(cal.getAs[String]("fecha_ultima_calificacion") == null)
    // empty entidad: pass not applied, flag stays null, value stays ""
    assert(cal.getAs[String]("entidad_calificadora") == "")
    assert(cal.getAs[Any]("entidad_calificadora_normalizada") == null)
  }

  test("incremental dedup index skips unshinglable docs and stays replay-safe on them") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("edge_idx")
      .resolve("index").toString
    // every doc under 3 words -> no shingles -> nothing indexed, no pairs
    val tiny = Seq((1L, "one"), (2L, "two words"), (3L, "")).toDF("doc_id", "text")
    val p1 = graft.streaming.IncrementalDedup.probeAndUpdate(tiny, idx)
    assert(p1.count() == 0)
    assert(graft.streaming.IncrementalDedup.readIndex(spark, idx).count() == 0)
    p1.unpersist()
    // a later real batch indexes normally alongside the no-op history
    val real = Seq((4L, "alpha beta gamma delta"), (5L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val p2 = graft.streaming.IncrementalDedup.probeAndUpdate(real, idx)
    assert(p2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((4L, 5L)))
    assert(graft.streaming.IncrementalDedup.readIndex(spark, idx).count() == 2)
    p2.unpersist()
  }

  test("curation chain survives degenerate documents and applies each filter") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("degen").toString
    // ids 0–4 are the held-out benchmark slice by contract
    Seq(
      (0L, "bench doc one two three four five", "en", "s", 33L),
      (5L, "", "en", "s", 0L),                     // empty: 0 words, 0/0 score → dropped, no crash
      (6L, "the a of and to", "en", "s", 15L),     // all stopwords → score 0.52 < 0.6 → dropped
      (7L, "alpha beta gamma delta epsilon zeta", "en", "s", 35L),
      (8L, "alpha beta gamma delta epsilon zeta", "en", "s", 35L), // exact dup of 7
      (9L, "unique healthy document with plenty distinct content here", "en", "s", 58L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = graft.operators.CurationOps.curatedDocs(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(out.sameElements(Array(7L, 9L)),
      s"expected survivors 7 (canonical dup) and 9, got ${out.mkString(",")}")

    // BPE pair extraction: empty + degenerate docs contribute nothing and nothing crashes
    val pairs = graft.operators.CurationOps.qBpePairs(spark, dir).collect()
    assert(pairs.nonEmpty && pairs.forall(_.getAs[String]("pair").length == 2))
    // term stats drops the wordless doc, keeps the rest
    val ts = graft.operators.CurationOps.qTermStats(spark, dir).collect()
    assert(!ts.map(_.getAs[Long]("doc_id")).contains(5L))
    graft.operators.SessionMemo.release(spark)
  }

  test("regionText emits no row for regions containing no word centers") {
    import spark.implicits._
    val w = Seq((1L, 0, "word", 10.0, 10.0, 70.0, 22.0))
      .toDF("doc_id", "page", "word", "x0", "top", "x1", "bottom")
    val out = graft.operators.PdfLayout.regionText(w,
      Seq("hit" -> (0.0, 0.0, 100.0, 100.0),
        "miss" -> (200.0, 200.0, 300.0, 300.0)))
      .collect()
    assert(out.map(_.getAs[String]("region")).toSet == Set("hit"))
  }
}
