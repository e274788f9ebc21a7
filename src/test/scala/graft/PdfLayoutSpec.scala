package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PdfLayout
import graft.sources.FicSources

/** PDF layout operators: word generation over the decode seam, named-
  * region text assembly, table-cell clustering. The relational pieces
  * are asserted on hand-positioned words (exact expected output); the
  * generator runs over the real reference PDFs through the stub
  * decoder.
  */
class PdfLayoutSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def wordsDf(rows: (Long, Int, String, Double, Double)*) = {
    import spark.implicits._
    // (doc, page, word, x0, top) with a fixed 60x12 glyph box
    rows.toDF("doc_id", "page", "word", "x0", "top")
      .withColumn("x1", col("x0") + 60)
      .withColumn("bottom", col("top") + 12)
  }

  test("regionText assembles lines left-to-right, top-down, region-cropped") {
    spark.sparkContext.setLogLevel("WARN")
    // second line arrives first and within-line order is reversed;
    // one word sits outside the region
    val w = wordsDf(
      (1L, 0, "c", 30.0, 112.0), (1L, 0, "d", 130.0, 110.0),
      (1L, 0, "b", 130.0, 41.0), (1L, 0, "a", 30.0, 43.0),
      (1L, 0, "outside", 500.0, 41.0))
    val out = PdfLayout.regionText(w,
      Seq("box" -> (0.0, 0.0, 400.0, 200.0)), lineTol = 24.0)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("region") == "box")
    assert(r.getAs[Long]("n_lines") == 2L)
    assert(r.getAs[Long]("n_words") == 4L)
    assert(r.getAs[String]("text") == "a b\nc d")
  }

  test("tableCells clusters rows and columns and concatenates cell words") {
    val w = wordsDf(
      (1L, 0, "r1c1", 20.0, 100.0), (1L, 0, "r1c2", 200.0, 101.0),
      (1L, 0, "r2c1", 21.0, 170.0), (1L, 0, "r2c2x", 200.0, 171.0),
      (1L, 0, "r2c2y", 261.0, 169.0))
    val cells = PdfLayout.tableCells(w, rowTol = 24.0, colTol = 120.0)
      .collect()
      .map(r => (r.getAs[Int]("row_id"), r.getAs[Int]("col_id"),
        r.getAs[String]("cell"))).toSet
    assert(cells == Set(
      (1, 1, "r1c1"), (1, 2, "r1c2"),
      (2, 1, "r2c1"), (2, 2, "r2c2x"), (2, 3, "r2c2y")))
  }

  test("word generator is deterministic and page-bounded over the reference PDFs") {
    val pdfs = FicSources.pdfFolder(spark, ReferenceCorpus.assumePdfs())
      .withColumn("doc_id", xxhash64(col("path")))
      .select(col("doc_id"), col("content"))
    val dec = new PdfLayout.StubLayoutDecoder()
    val w1 = PdfLayout.words(pdfs, dec)
    assert(w1.count() > 0)
    assert(w1.filter(col("x0") < 0 || col("x1") > 612 ||
      col("top") < 0 || col("bottom") > 792).count() == 0)
    // deterministic: same corpus, same decoder -> identical word set
    val w2 = PdfLayout.words(pdfs, dec)
    assert(w1.exceptAll(w2).count() == 0 && w2.exceptAll(w1).count() == 0)
    // every page of every doc carries the full stub grid
    val perPage = w1.groupBy(col("doc_id"), col("page")).count()
    assert(perPage.filter(col("count") =!= 60).count() == 0)
  }
}
