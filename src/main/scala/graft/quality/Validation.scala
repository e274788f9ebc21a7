package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

/** Data-quality side-outputs (SURVEY A2 / D3): instead of log lines, the
  * engine emits warning/validation DataFrames — queryable, sinkable,
  * countable at any scale. All checks are per-row array aggregates
  * (zero shuffle).
  */
object Validation {

  private def sumOf(arr: String): Column =
    expr(s"aggregate(filter($arr.participacion, v -> v is not null), " +
      "cast(0 as double), (a, v) -> a + v)")

  /** Percentage-sum validation (`_validar_suma_porcentajes`, the
    * reference's transform.py:663-679): one (campo, suma, warn) check
    * per list of a document. plazo_duracion is always validated;
    * composition categories and principales_inversiones only when their
    * sum > 0 (transform.py:489-492,513-514).
    */
  private val sumChecks: Column = {
    val checks: Seq[(String, Column, Column)] = Seq(
      ("plazo_duracion", sumOf("plazo_duracion"), lit(true)),
      ("principales_inversiones", sumOf("principales_inversiones"),
        sumOf("principales_inversiones") > 0)) ++
      Seq("por_activo", "por_tipo_de_renta", "por_sector_economico",
        "por_pais_emisor", "por_moneda", "por_calificacion").map { cat =>
        val s = sumOf(s"composicion_portafolio.$cat")
        (cat, s, s > 0)
      }
    array(checks.map { case (campo, suma, applies) =>
      struct(lit(campo).as("campo"), suma.as("suma"),
        (applies && !(suma >= 0.95 && suma <= 1.05)).as("warn"))
    }: _*)
  }

  /** One warning row per out-of-range list. */
  def sumWarnings(transformed: DataFrame): DataFrame =
    transformed
      .select(col("filename"), col("fic.nombre_fic").as("nombre_fic"),
        explode(sumChecks).as("w"))
      .filter(col("w.warn"))
      .select(col("filename"), col("nombre_fic"),
        col("w.campo").as("campo"), col("w.suma").as("suma"))

  /** Date-vs-folder consistency (script_transform.py:49-114): lenient —
    * a document is invalid only when BOTH the folder year/month and the
    * fecha_corte year/month parse and disagree. `try_cast`, not `cast`:
    * under ANSI casts an unparseable fecha_corte ("fecha desconocida")
    * would throw and abort the stage instead of staying valid.
    */
  private def dateValid(folderName: String): Column = {
    val m = "^.*?[_-]?(\\d{4})[_-](\\d{1,2})$".r
    val (fy, fm) = folderName match {
      case m(y, mo) => (y.toInt, mo.toInt)
      case _ => (-1, -1)
    }
    val parts = split(col("fic.fecha_corte"), "-")
    val jy = element_at(parts, 1).try_cast("int")
    val jm = try_element_at(parts, lit(2)).try_cast("int")
    if (fy < 0) lit(true)
    else when(col("fic.fecha_corte").isNull || jy.isNull || jm.isNull, true)
      .otherwise(jy === fy && jm === fm)
  }

  def dateFolderCheck(transformed: DataFrame, folderName: String): DataFrame =
    transformed.select(
      col("filename"), col("fic.fecha_corte").as("fecha_corte"),
      dateValid(folderName).as("fecha_valida"))

  /** The transform stage's bookkeeping: documents, [[sumWarnings]] rows,
    * and the file names [[dateFolderCheck]] flags, sorted as Spark
    * sorts strings.
    */
  final case class Summary(docs: Long, warnings: Long, skipped: Seq[String])

  /** [[Summary]] tallied by the tasks that already visit every document
    * (the per-document JSON writer), so the bookkeeping costs no pass of
    * its own: [[Tally.columns]] is evaluated next to each document and
    * handed to [[add]], which folds it into accumulators. Task retries
    * count once: Spark applies an action's accumulator updates once per
    * task.
    */
  final class Tally private (docs: LongAccumulator, warnings: LongAccumulator,
      skipped: CollectionAccumulator[String]) extends Serializable {

    /** Fold one document's [[Tally.columns]] value. */
    def add(r: Row): Unit = {
      docs.add(1)
      warnings.add(r.getInt(0))
      if (!r.isNullAt(1)) skipped.add(r.getString(1))
    }

    /** The [[Summary]] of the documents folded so far. */
    def summary: Summary = {
      import scala.jdk.CollectionConverters._
      Summary(docs.value, warnings.value,
        skipped.value.asScala.toSeq.sortBy(UTF8String.fromString))
    }
  }

  object Tally {
    def apply(spark: SparkSession): Tally = {
      val sc = spark.sparkContext
      new Tally(sc.longAccumulator("transform.documents"),
        sc.longAccumulator("transform.sum_warnings"),
        sc.collectionAccumulator[String]("transform.skipped"))
    }

    /** Per document: its [[sumWarnings]] row count, and its file name
      * when [[dateFolderCheck]] flags it (else null).
      */
    def columns(folderName: String): Column =
      struct(size(filter(sumChecks, _.getField("warn"))),
        when(!dateValid(folderName), col("filename")))
  }

  /** Skip-list emission (script_transform.py:270-293): base names of the
    * mismatched files, one per line with the header comments. Collected
    * to a single small text file (the skip list is tiny by construction).
    */
  def writeSkipList(validation: DataFrame, outPath: String): Unit =
    writeSkipList(validation.filter(!col("fecha_valida")).select(col("filename"))
      .collect().map(_.getString(0)).toSeq, outPath)

  /** The skip list of these (mismatched) file names. */
  def writeSkipList(filenames: Seq[String], outPath: String): Unit = {
    val bad = filenames.map(_.replaceAll("_transformed\\.json$", ""))
      .sortBy(UTF8String.fromString)
    val body = "# Lista de archivos con fechas no coincidentes\n" +
      "# Generado automáticamente desde validación de fechas\n\n" +
      bad.mkString("", "\n", if (bad.nonEmpty) "\n" else "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), body)
  }
}
