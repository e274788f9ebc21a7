package graft.fic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shred a transformed FIC document DataFrame into the 9-table star
  * schema (/root/reference/src/etl/load.py:239-364,
  * /root/reference/src/config/db.py:48-210).
  *
  * Keys: the reference uses Postgres autoincrement ids; distributed
  * equivalent (SURVEY §7.4.1) is a deterministic natural-key hash —
  * xxhash64 over (url, nombre_fic, fecha_corte, filename) — so children
  * join to parents without any sequence coordination, task retries are
  * idempotent, and re-runs produce identical ids.
  *
  * The shred is written once, in the per-document form ([[nested]]): one
  * row per document holding `fic_id` and, per table, an `array<struct>`
  * of that document's rows in the table (one element for the one-row
  * tables fic, caracteristicas, calificacion and raw_json). The load
  * writes every table of a document from that one row. The nine
  * per-table frames of [[Shredded]] are `inline` views of it, so a
  * table's column expressions exist in one place only.
  */
object FicShredder {

  /** Deterministic surrogate key for one document version. */
  def ficIdCol: Column = xxhash64(
    coalesce(col("fic.url"), lit("")),
    coalesce(col("fic.nombre_fic"), lit("")),
    coalesce(col("fic.fecha_corte"), lit("")),
    coalesce(col("filename"), lit("")))

  /** The nine tables, parents first: the column names of [[nested]]. */
  val Tables: Seq[String] = Seq("fic", "composicion_portafolio",
    "plazo_duracion", "caracteristicas", "calificacion",
    "principales_inversiones", "rentabilidad_historica",
    "volatilidad_historica", "raw_json")

  final case class Shredded(
      fic: DataFrame,
      composicionPortafolio: DataFrame,
      plazoDuracion: DataFrame,
      caracteristicas: DataFrame,
      calificacion: DataFrame,
      principalesInversiones: DataFrame,
      rentabilidadHistorica: DataFrame,
      volatilidadHistorica: DataFrame,
      rawJson: DataFrame) {
    def all: Seq[(String, DataFrame)] = Tables.zip(Seq(fic,
      composicionPortafolio, plazoDuracion, caracteristicas, calificacion,
      principalesInversiones, rentabilidadHistorica, volatilidadHistorica,
      rawJson))
  }

  private val CompCats = Seq(
    // (document field, tipo_composicion value, element key field) —
    // the category alias map of load.py:244-251.
    ("por_activo", "activo", "activo"),
    ("por_tipo_de_renta", "tipo_renta", "tipo"),
    ("por_sector_economico", "sector_economico", "sector"),
    ("por_pais_emisor", "pais_emisor", "pais"),
    ("por_moneda", "moneda", "moneda"),
    ("por_calificacion", "calificacion", "calificacion"))

  /** One table row per element of `arr` (a null array has no rows). */
  private def rows(arr: Column)(fields: Column => Seq[Column]): Column =
    transform(arr, it => struct(fields(it): _*))

  /** The per-document form: one row per document of `df` (output of
    * [[FicTransform]] plus the `filename` column) with `fic_id` and one
    * `array<struct>` column per table of [[Tables]]; the struct fields
    * are the table's columns after `fic_id`.
    */
  def nested(df: DataFrame): DataFrame = {
    // U3: six category arrays -> (tipo_composicion, categoria,
    // participacion). Falsy category values collapse to '' exactly like
    // the load-side or-chain (load.py:259-260).
    val comp = concat(CompCats.map { case (field, tipo, key) =>
      coalesce(
        rows(col(s"composicion_portafolio.$field"))(it => Seq(
          lit(tipo).as("tipo_composicion"),
          coalesce(it.getField(key), lit("")).as("categoria"),
          it.getField("participacion").as("participacion"))),
        array())
    }: _*)

    def rvColumns(rv: Column, st: String): Seq[Column] =
      rv.getField("tipo_de_participacion").as("tipo_participacion") +: Seq(
        "ultimo_mes", "ultimos_6_meses", "anio_corrido",
        "ultimo_anio", "ultimos_2_anios", "ultimos_3_anios")
        .map(h => rv.getField(st).getField(h).as(h))

    df.select(
      ficIdCol.as("fic_id"),
      array(struct(
        coalesce(col("fic.nombre_fic"), lit("")).as("nombre_fic"),
        coalesce(col("fic.gestor"), lit("")).as("gestor"),
        col("fic.custodio").as("custodio"),
        col("fic.fecha_corte").as("fecha_corte"),
        col("fic.politica_de_inversion").as("politica_de_inversion"),
        coalesce(col("fic.tipo"), lit("")).as("tipo"),
        coalesce(col("fic.url"), lit("")).as("url"))).as("fic"),
      comp.as("composicion_portafolio"),
      rows(col("plazo_duracion"))(it => Seq(
        it.getField("plazo").as("plazo"),
        it.getField("participacion").as("participacion"))).as("plazo_duracion"),
      array(struct(
        col("caracteristicas.tipo").as("tipo"),
        col("caracteristicas.valor").as("valor"),
        col("caracteristicas.fecha_inicio_operaciones").as("fecha_inicio_operaciones"),
        col("caracteristicas.no_unidades_en_circulacion")
          .as("no_unidades_en_circulacion"))).as("caracteristicas"),
      array(struct(
        col("calificacion.calificacion").as("calificacion"),
        col("calificacion.fecha_ultima_calificacion").as("fecha_ultima_calificacion"),
        col("calificacion.entidad_calificadora").as("entidad_calificadora"),
        col("calificacion.entidad_calificadora_normalizada")
          .as("entidad_calificadora_normalizada"))).as("calificacion"),
      rows(col("principales_inversiones"))(it => Seq(
        it.getField("emisor").as("emisor"),
        it.getField("participacion").as("participacion")))
        .as("principales_inversiones"),
      rows(col("rentabilidad_volatilidad"))(rvColumns(_, "rentabilidad_historica_ea"))
        .as("rentabilidad_historica"),
      rows(col("rentabilidad_volatilidad"))(rvColumns(_, "volatilidad_historica"))
        .as("volatilidad_historica"),
      array(struct(
        to_json(struct(col("fic"), col("plazo_duracion"),
          col("composicion_portafolio"), col("caracteristicas"),
          col("calificacion"), col("principales_inversiones"),
          col("rentabilidad_volatilidad"))).as("json_data"),
        lit("transformed").as("tipo"),
        col("filename").as("filename"))).as("raw_json"))
  }

  /** One table of the per-document form as flat rows (fic_id, columns). */
  def table(nested: DataFrame, name: String): DataFrame =
    nested.select(col("fic_id"), inline(col(name)))

  /** `df` = output of [[FicTransform]] plus the `filename` column. */
  def apply(df: DataFrame): Shredded = {
    val docs = nested(df)
    val t = Tables.map(table(docs, _))
    Shredded(t(0), t(1), t(2), t(3), t(4), t(5), t(6), t(7), t(8))
  }
}
