package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fic.{FicLookup, FicTransform}
import graft.sources.FicSources

/** Inline raw FIC documents for load specs that must run without the
  * reference corpus: two monthly folders over six funds. Month 2
  * restates Alpha with a newer fecha_corte, adds Eta, and repeats Delta
  * with the same fecha_corte (a noop) but a different policy text, so
  * a wrongly applied noop shows in the database.
  */
object FicLoadFixture {

  def doc(fund: String, fecha: String,
      politica: String = "Renta fija de corto plazo en pesos colombianos",
      plazo: Boolean = true, calificacion: Boolean = true): String = {
    val plazos =
      if (plazo) """"plazo_duracion": [{"plazo": "1-180 dias", "participacion": "60%"},
        | {"plazo": "181-360 dias", "participacion": 0.4}],""".stripMargin
      else ""
    val cal =
      if (calificacion) """{"calificacion": "AAA", "fecha_ultima_calificacion": "2024-11-30",
        | "entidad_calificadora": "Fitch Ratings"}""".stripMargin
      else "null"
    s"""{"fic": {"nombre_fic": "Fondo $fund", "gestor": "Banco $fund",
       | "custodio": "Cititrust", "fecha_corte": "$fecha",
       | "politica_de_inversion": "$politica"},
       | $plazos
       | "composicion_portafolio": {
       |   "por_activo": [{"activo": "CDT", "participacion": "70%"},
       |     {"activo": "TES", "participacion": 0.3}],
       |   "por_moneda": [{"moneda": "COP", "participacion": 1}],
       |   "por_calificacion": [{"calificacion": null, "participacion": "100"}]},
       | "caracteristicas": {"tipo": "Abierto", "valor": 1250000.5,
       |   "fecha_inicio_operaciones": "2019-03-01",
       |   "no_unidades_en_circulacion": "1,5"},
       | "calificacion": $cal,
       | "principales_inversiones": [{"emisor": "Emisor A", "participacion": "12,5%"},
       |   {"emisor": "Emisor B", "participacion": 0.08}],
       | "rentabilidad_volatilidad": [{"tipo_de_participacion": "Tipo A",
       |   "rentabilidad_historica_ea": {"ultimo_mes": "5.1%", "ultimos_6_meses": "4.8",
       |     "anio_corrido": null, "ultimo_anio": "6,2%", "ultimos_2_anios": "7%",
       |     "ultimos_3_anios": "7.5%"},
       |   "volatilidad_historica": {"ultimo_mes": "0.5%", "ultimos_6_meses": "0.6%",
       |     "anio_corrido": "0.7%", "ultimo_anio": "0.8%", "ultimos_2_anios": "0.9%",
       |     "ultimos_3_anios": "1%"}}]}""".stripMargin
  }

  /** (file name, raw document) per month. */
  val Month1: Seq[(String, String)] = Seq(
    "bancoA_alpha_raw.json" -> doc("Alpha", "2025-07-31"),
    "bancoA_beta_raw.json" -> doc("Beta", "2025-07-31", plazo = false),
    "bancoB_gamma_raw.json" -> doc("Gamma", "2025-07-31", calificacion = false),
    "bancoB_delta_raw.json" -> doc("Delta", "2025-07-31"),
    "bancoC_epsilon_raw.json" -> doc("Epsilon", "2025-07-31",
      politica = "Renta variable internacional"),
    "bancoC_zeta_raw.json" -> doc("Zeta", "2025-07-31"))

  val Month2: Seq[(String, String)] = Seq(
    "bancoA_alpha_raw.json" -> doc("Alpha", "2025-08-31",
      politica = "Renta fija y renta variable"),
    "bancoB_delta_raw.json" -> doc("Delta", "2025-07-31",
      politica = "Texto distinto del mismo corte"),
    "bancoD_eta_raw.json" -> doc("Eta", "2025-08-31"))

  /** The month-2 versions that replace or add to month 1. */
  val Month2Applied: Set[String] = Set("bancoA_alpha_raw.json", "bancoD_eta_raw.json")

  /** Write one month's documents into a fresh folder. */
  def folder(docs: Seq[(String, String)]): Path = {
    val dir = Files.createTempDirectory("fic_month")
    docs.foreach { case (name, json) => Files.writeString(dir.resolve(name), json) }
    dir
  }

  /** The transformed frame of one month's folder, as the load takes it. */
  def transformed(spark: SparkSession, dir: Path): DataFrame =
    FicTransform(FicSources.rawJsonFolder(spark, dir.toString), FicLookup(Nil))

  /** The documents that survive month 2: month 1 minus the restated
    * fund, plus the applied month-2 versions.
    */
  def survivorsAfterMonth2(m1: DataFrame, m2: DataFrame): DataFrame =
    m1.filter(col("filename") =!= "bancoA_alpha_raw.json")
      .unionByName(m2.filter(col("filename").isin(Month2Applied.toSeq: _*)))
}
