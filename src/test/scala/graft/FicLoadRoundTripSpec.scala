package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.app.{GraftLoad, GraftTransformLoad}
import graft.fic.FicShredder
import graft.load.JdbcSink

/** The one-pass load end to end on inline documents (no reference
  * corpus): after each month every table holds exactly the shredded
  * rows of the surviving documents, a rerun changes nothing, and a
  * restatement whose insert fails leaves the previous version in place.
  * Latest-wins holds inside a batch on an empty database too, and a
  * snapshot that cannot be read fails the load before it writes, on the
  * staged and the fused path; a fused month whose transform fails
  * surfaces that error and leaves no snapshot read behind.
  */
class FicLoadRoundTripSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def canonical(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** Table contents without the wall-clock created_at column. */
  private def dbRows(url: String, table: String): Seq[String] = {
    val df = JdbcSink.readTable(spark, url, table).get
    canonical(df.select(df.columns.filterNot(_.equalsIgnoreCase("created_at")).map(col): _*))
  }

  private def assertHolds(url: String, survivors: DataFrame, when: String): Unit =
    FicShredder(survivors).all.foreach { case (table, rows) =>
      assert(dbRows(url, table) == canonical(rows), s"$table after $when")
    }

  test("two months load the surviving documents' shredded rows; rerun and failure leave them") {
    spark.sparkContext.setLogLevel("WARN")
    import FicLoadFixture._
    val url = "jdbc:derby:memory:onePassLoad;create=true"
    val m1 = transformed(spark, folder(Month1)).cache()
    val m2 = transformed(spark, folder(Month2)).cache()

    assert(GraftLoad.run(spark, m1, url) == ((6L, 0L)))
    assertHolds(url, m1, "month 1")
    // the fixture exercises the null paths: Beta has no plazo rows,
    // Gamma's calificacion row is all null
    assert(dbRows(url, "plazo_duracion").size == 2 * 5)
    assert(dbRows(url, "calificacion").count(_.endsWith("|null|null|null|null")) == 1)
    // every created table is indexed on fic_id, the key of the deletes
    val conn = java.sql.DriverManager.getConnection(url)
    try FicShredder.Tables.foreach { t =>
      val ix = conn.getMetaData.getIndexInfo(null, null, t.toUpperCase, false, false)
      val cols = Iterator.continually(ix).takeWhile(_.next()).map(_.getString("COLUMN_NAME")).toList
      assert(cols.contains("FIC_ID"), s"$t has no fic_id index")
    } finally conn.close()

    // Alpha restated (update), Eta new (insert), Delta not newer (noop)
    assert(GraftLoad.run(spark, m2, url) == ((2L, 1L)))
    val after2 = survivorsAfterMonth2(m1, m2)
    assertHolds(url, after2, "month 2")

    assert(GraftLoad.run(spark, m2, url) == ((0L, 0L)))
    assertHolds(url, after2, "a rerun of month 2")

    // Beta restated with a policy text one character over VARCHAR(32000):
    // its chunk rolls back, the run fails, Beta's July rows stay
    val tooLong = folder(Seq("bancoA_beta_raw.json" ->
      doc("Beta", "2025-09-30", politica = "x" * 32001, plazo = false)))
    intercept[Exception](GraftLoad.run(spark, transformed(spark, tooLong), url))
    assertHolds(url, after2, "a failed restatement")
  }

  test("an empty database keeps only the latest of two dated versions of one fund") {
    import FicLoadFixture._
    val url = "jdbc:derby:memory:firstLoadLatestWins;create=true"
    val both = transformed(spark, folder(Seq(
      "bancoA_beta_raw.json" -> doc("Beta", "2025-07-31"),
      "bancoA_beta_agosto_raw.json" -> doc("Beta", "2025-08-31",
        politica = "Renta fija y renta variable")))).cache()
    assert(GraftLoad.run(spark, both, url) == ((1L, 0L)))
    assertHolds(url, both.filter(col("filename") === "bancoA_beta_agosto_raw.json"),
      "a first load of two versions")
    assert(dbRows(url, "fic").size == 1)
  }

  /** A database whose `fic` table lacks `fecha_corte`: its snapshot
    * read fails with Derby's 42X04.
    */
  private def unreadableSnapshot(name: String): String = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().executeUpdate(
      "CREATE TABLE fic (fic_id BIGINT, nombre_fic VARCHAR(200), url VARCHAR(200))")
    finally conn.close()
    url
  }

  private def assertNothingWritten(url: String): Unit = {
    assert(dbRows(url, "fic").isEmpty)
    FicShredder.Tables.filter(_ != "fic").foreach { t =>
      assert(JdbcSink.readTable(spark, url, t).isEmpty, s"$t was created")
    }
  }

  test("a fic table whose snapshot cannot be read fails the load before it writes") {
    import FicLoadFixture._
    val url = unreadableSnapshot("unreadableSnapshot")
    val e = intercept[java.sql.SQLException](
      GraftLoad.run(spark, transformed(spark, folder(Month1)), url))
    assert(e.getSQLState == "42X04", e.getSQLState)
    assertNothingWritten(url)
  }

  test("the fused month fails on an unreadable snapshot before it writes") {
    import FicLoadFixture._
    val url = unreadableSnapshot("unreadableSnapshotFused")
    val out = Files.createTempDirectory("fused_unreadable").toString
    val e = intercept[java.sql.SQLException](
      GraftTransformLoad.run(spark, folder(Month1).toString, out, url, None))
    assert(e.getSQLState == "42X04", e.getSQLState)
    assertNothingWritten(url)
  }

  test("a failed transform surfaces its own error and leaves no snapshot read running") {
    val url = unreadableSnapshot("transformFailsFirst")
    val absent = Files.createTempDirectory("fused_absent").resolve("json_raw_2025_07")
    val out = Files.createTempDirectory("fused_absent_out").toString
    val e = intercept[AnalysisException](
      GraftTransformLoad.run(spark, absent.toString, out, url, None))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
    val reads = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName == "graft-load-snapshot")
    assert(reads.isEmpty)
    assertNothingWritten(url)
  }
}
