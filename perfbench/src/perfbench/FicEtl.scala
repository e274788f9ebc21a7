package perfbench

import java.io.File
import java.sql.{DriverManager, SQLException}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.app.GraftTransformLoad
import graft.fic.{FicShredder, FicTransform, FicUpsert}
import graft.load.JdbcSink
import graft.quality.Validation
import graft.sources.FicSources

/** fic_etl: the paper's batch pipeline. The July folder loads into a
  * fresh in-memory Derby database (insert path), then the August folder
  * restates about half the funds (latest-fecha_corte-wins replace path:
  * merge plus cascade delete).
  *
  * Untraced, each month is one `GraftTransformLoad.run` call. Traced,
  * the same public calls run in the same order, each inside a span —
  * the steps of `GraftTransform.transformAndWrite`, the date-check skip
  * filter, and the steps of `GraftLoad.run`. Both variants must leave
  * the database in the state the input generator predicts.
  */
object FicEtl {
  val Months = Seq("json_raw_2025_07", "json_raw_2025_08")
  val Tables = Seq("fic", "composicion_portafolio", "plazo_duracion",
    "caracteristicas", "calificacion", "principales_inversiones",
    "rentabilidad_historica", "volatilidad_historica", "raw_json")

  def run(spark: SparkSession, tr: Trace, in: String, work: String,
      iter: Int): Iteration = {
    val db = s"perfbench_fic_$iter"
    val url = s"jdbc:derby:memory:$db;create=true"
    val fics = s"$in/fics.json"
    val it = new Iteration
    Months.foreach { m =>
      val out = s"$work/$m"
      val t0 = System.nanoTime()
      val (docs, replaced) =
        if (tr.on) tracedMonth(spark, tr, s"$in/$m", out, url, fics, it)
        else GraftTransformLoad.run(spark, s"$in/$m", out, url, Some(fics))
      it.add("months", (System.nanoTime() - t0) / 1e9)
      it.attempted += 1
      // checks, outside the timed region
      it.results(s"$m.docs") = docs
      it.results(s"$m.replaced") = replaced
      Tables.foreach(t => it.results(s"$m.rows.$t") = rowCount(url, t))
      it.results(s"$m.skipped") = skipListed(s"$out/skip_list.txt")
    }
    it.wall = it.series("months").sum
    it.items = Months.map(m => it.results(s"$m.docs")).sum
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
    catch { case _: SQLException => () } // Derby signals a completed drop this way
    it
  }

  private def rowCount(url: String, table: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  private def skipListed(path: String): Long = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().map(_.trim).count(l => l.nonEmpty && !l.startsWith("#"))
    finally src.close()
  }

  /** `GraftTransformLoad.run` with a span around each public call. */
  private def tracedMonth(spark: SparkSession, tr: Trace, in: String,
      out: String, url: String, fics: String, it: Iteration): (Long, Long) = {
    val folderName = new File(in).getName
    val raw = tr("sources.scan") {
      val lookup = FicSources.ficsLookup(fics)
      (FicSources.rawJsonFolder(spark, in), lookup)
    }
    // persist plans the query (the cache keeps its physical plan);
    // the first action over it runs the transform
    val transformed = tr("fic.transform_plan") {
      FicTransform(raw._1, raw._2).persist(StorageLevel.MEMORY_AND_DISK)
    }
    tr("fic.transform_exec") {
      transformed.write.format("noop").mode("overwrite").save()
    }
    tr("sources.json_write") { FicSources.writePerDocumentJson(transformed, out) }
    val kept = tr("quality.validate") {
      val warnings = Validation.sumWarnings(transformed)
      val skipped = Validation.dateFolderCheck(transformed, folderName)
      Validation.writeSkipList(skipped, new File(out, "skip_list.txt").getPath)
      warnings.count()
      transformed.count()
      val bad = Validation.dateFolderCheck(transformed, folderName)
        .filter(!col("fecha_valida")).select(col("filename"))
      transformed.join(broadcast(bad), Seq("filename"), "left_anti")
        .withColumn("filename", concat(regexp_replace(col("filename"), "\\.json$", ""),
          lit("_transformed.json")))
    }
    val res = tracedLoad(spark, tr, kept, url, it)
    transformed.unpersist()
    res
  }

  /** `GraftLoad.run` with a span around each public call. */
  private def tracedLoad(spark: SparkSession, tr: Trace, docs: DataFrame,
      url: String, it: Iteration): (Long, Long) = {
    val shredded = tr("fic.shred") { FicShredder(docs) }
    val (toWrite, replaced, retained) = tr("fic.merge") {
      JdbcSink.readTable(spark, url, "fic") match {
        case Some(snapshot) =>
          val m = FicUpsert.merge(
            snapshot.select("fic_id", "nombre_fic", "url", "fecha_corte"),
            shredded.fic.select("fic_id", "nombre_fic", "url", "fecha_corte"))
          val actions = m.actions.persist(StorageLevel.MEMORY_AND_DISK)
          actions.count()
          val replacedIds = m.replacedIds.persist(StorageLevel.MEMORY_AND_DISK)
          (actions.filter(col("action") =!= "noop").select("fic_id"),
            Some(replacedIds), Seq(actions, replacedIds))
        case None => (shredded.fic.select("fic_id"), None, Nil)
      }
    }
    val tables = tr("fic.shred") {
      shredded.all.map { case (name, df) => name -> df.join(toWrite, Seq("fic_id"), "left_semi") }
    }
    var before, afterDelete = 0L
    tr.bookkeeping { before = Tables.map(t => existingRows(url, t)).sum }
    val nReplaced = tr("load.delete") {
      replaced.map { ids =>
        tables.foreach { case (name, _) => JdbcSink.deleteByIds(url, name, ids) }
        ids.count()
      }.getOrElse(0L)
    }
    tr.bookkeeping { afterDelete = Tables.map(t => existingRows(url, t)).sum }
    val n = tr("load.insert") {
      JdbcSink.loadShredded(tables, url)
      tables.head._2.count()
    }
    retained.foreach(_.unpersist())
    tr.bookkeeping {
      it.results("load.rows_written") = it.results.getOrElse("load.rows_written", 0L) +
        Tables.map(t => rowCount(url, t)).sum - afterDelete
      it.results("load.rows_deleted") = it.results.getOrElse("load.rows_deleted", 0L) +
        before - afterDelete
    }
    (n, nReplaced)
  }

  private def existingRows(url: String, table: String): Long =
    try rowCount(url, table) catch { case _: SQLException => 0L }
}
