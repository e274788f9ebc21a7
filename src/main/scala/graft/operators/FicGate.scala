package graft.operators

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fic.{FicLookup, FicSchema, FicTransform}
import graft.functions.{Similarity, SpanishDate}

/** Differential gate queries for the FIC domain engine.
  *
  * The driver's correctness gate runs `SparkEntry.queries` against a
  * DuckDB oracle. The FIC chain's inputs are documents, not the
  * synthetic tables — so these queries carry their own inputs: literal
  * documents / argument tables shipped as resources, evaluated LIVE by
  * the Scala engine, with VALUES-literal oracles generated by running
  * the REFERENCE implementation on the same inputs
  * (tools/gen_goldens.py). A hash match here means the Spark engine and
  * the Python reference produced identical outputs.
  */
object FicGate {

  private val mapper = new ObjectMapper()

  private def resource(name: String): JsonNode =
    mapper.readTree(getClass.getResourceAsStream(s"/golden/$name"))

  /** SQL literal for a JSON value. Floating-point values are emitted as
    * QUOTED strings cast to DOUBLE: DuckDB parses a bare numeric literal
    * as DECIMAL first and the decimal→double conversion can be 1 ulp off
    * the correctly-rounded string→double parse.
    */
  private def sqlLit(n: JsonNode): String =
    if (n == null || n.isNull) "NULL"
    else if (n.isBoolean) n.asText
    else if (n.isIntegralNumber) n.asText
    else if (n.isNumber) s"CAST('${n.asText}' AS DOUBLE)"
    else "'" + n.asText.replace("'", "''") + "'"

  // -- full transform chain over literal documents ----------------------

  /** Runs the real 8-pass chain on the gate documents and flattens the
    * scalars the oracle pins.
    */
  def qFicChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = resource("gate-docs.json")
    val rows = docs.properties().asScala.toSeq
      .map(e => (e.getKey, e.getValue.toString))
    val raw = rows.toDF("doc_id", "json")
      .withColumn("doc", from_json(col("json"), FicSchema.raw))
      .select(col("doc_id"),
        concat(col("doc_id"), lit("_x_raw.json")).as("filename"),
        col("doc.*"))
    val t = FicTransform(raw, FicLookup(Nil))
    t.select(
      col("doc_id"),
      col("fic.fecha_corte").as("fecha_corte"),
      col("fic.tipo").as("tipo"),
      col("caracteristicas.fecha_inicio_operaciones").as("fecha_inicio"),
      col("caracteristicas.valor").as("valor"),
      col("caracteristicas.no_unidades_en_circulacion").as("unidades"),
      col("calificacion.entidad_calificadora").as("entidad"),
      col("calificacion.entidad_calificadora_normalizada").as("ent_norm"),
      col("calificacion.fecha_ultima_calificacion").as("fecha_calif"),
      try_element_at(col("plazo_duracion"), lit(1)).getField("participacion").as("plazo0"),
      try_element_at(col("plazo_duracion"), lit(2)).getField("participacion").as("plazo1"),
      try_element_at(col("composicion_portafolio.por_activo"), lit(1))
        .getField("participacion").as("activo0"),
      try_element_at(col("principales_inversiones"), lit(1))
        .getField("participacion").as("inv0"),
      try_element_at(col("rentabilidad_volatilidad"), lit(1))
        .getField("rentabilidad_historica_ea").getField("ultimos_6_meses").as("rent_6m"),
      try_element_at(col("rentabilidad_volatilidad"), lit(1))
        .getField("rentabilidad_historica_ea").getField("anio_corrido").as("rent_ac"),
      try_element_at(col("rentabilidad_volatilidad"), lit(1))
        .getField("volatilidad_historica").getField("ultimo_anio").as("vol_1a"),
      size(col("plazo_duracion")).cast("long").as("n_plazos"))
      .orderBy(col("doc_id"))
  }

  def qFicChainOracle: String = {
    val exp = resource("gate-expected.json")
    val cols = Seq("fecha_corte", "tipo", "fecha_inicio", "valor", "unidades",
      "entidad", "ent_norm", "fecha_calif", "plazo0", "plazo1", "activo0",
      "inv0", "rent_6m", "rent_ac", "vol_1a", "n_plazos")
    val rows = exp.properties().asScala.toSeq.sortBy(_.getKey).map { e =>
      val v = e.getValue
      (("'" + e.getKey + "'") +: cols.map(c => sqlLit(v.get(c)))).mkString("(", ", ", ")")
    }
    s"""SELECT doc_id, CAST(fecha_corte AS VARCHAR) AS fecha_corte, tipo,
        CAST(fecha_inicio AS VARCHAR) AS fecha_inicio,
        CAST(valor AS DOUBLE) AS valor, CAST(unidades AS DOUBLE) AS unidades,
        entidad, CAST(ent_norm AS BOOLEAN) AS ent_norm,
        CAST(fecha_calif AS VARCHAR) AS fecha_calif,
        CAST(plazo0 AS DOUBLE) AS plazo0, CAST(plazo1 AS DOUBLE) AS plazo1,
        CAST(activo0 AS DOUBLE) AS activo0, CAST(inv0 AS DOUBLE) AS inv0,
        CAST(rent_6m AS DOUBLE) AS rent_6m, CAST(rent_ac AS DOUBLE) AS rent_ac,
        CAST(vol_1a AS DOUBLE) AS vol_1a, CAST(n_plazos AS BIGINT) AS n_plazos
      FROM (VALUES ${rows.mkString(",\n")})
        t(doc_id, ${cols.mkString(", ")})
      ORDER BY doc_id"""
  }

  // -- scalar function tables ------------------------------------------

  def qSpanishDates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val inputs = resource("table_dates.json").properties().asScala.toSeq
      .map(_.getKey).sorted
    val parseUdf = udf((x: String) => SpanishDate.parse(x))
    inputs.toDF("input")
      .withColumn("parsed", parseUdf(col("input")))
      .orderBy(col("input"))
  }

  def qSpanishDatesOracle: String = {
    val exp = resource("table_dates.json")
    val rows = exp.properties().asScala.toSeq.sortBy(_.getKey).map { e =>
      s"('${e.getKey.replace("'", "''")}', ${sqlLit(e.getValue)})"
    }
    s"""SELECT input, CAST(parsed AS VARCHAR) AS parsed
       FROM (VALUES ${rows.mkString(",")}) t(input, parsed)
       ORDER BY input"""
  }

  def qCleanMonetary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = resource("table_money.json").elements().asScala.toSeq
      .map(p => p.get(0).asDouble)
    val limpiarUdf = udf((v: java.lang.Double) => FicTransform.limpiarValor(v))
    pairs.toDF("input")
      .withColumn("cleaned", limpiarUdf(col("input")))
      .orderBy(col("input"))
  }

  def qCleanMonetaryOracle: String = {
    val exp = resource("table_money.json")
    val rows = exp.elements().asScala.toSeq.map { p =>
      s"(CAST('${p.get(0).asText}' AS DOUBLE), CAST('${p.get(1).asText}' AS DOUBLE))"
    }
    s"""SELECT input, cleaned
       FROM (VALUES ${rows.mkString(",")}) t(input, cleaned)
       ORDER BY input"""
  }

  def qSimilarity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = resource("table_similarity.json").elements().asScala.toSeq
      .map(p => (p.get(0).asText, p.get(1).asText))
    val lcsUdf = udf((a: String, b: String) => Similarity.lcsSimilarity(a, b))
    val ratioUdf = udf((a: String, b: String) => Similarity.ratio(a, b))
    pairs.toDF("a", "b")
      .withColumn("lcs_sim", lcsUdf(col("a"), col("b")))
      .withColumn("difflib_ratio", ratioUdf(col("a"), col("b")))
      .orderBy(col("a"), col("b"))
  }

  def qSimilarityOracle: String = {
    val exp = resource("table_similarity.json")
    val rows = exp.elements().asScala.toSeq.map { p =>
      s"('${p.get(0).asText}', '${p.get(1).asText}', " +
        s"CAST('${p.get(2).asText}' AS DOUBLE), CAST('${p.get(3).asText}' AS DOUBLE))"
    }
    s"""SELECT a, b, lcs_sim, difflib_ratio
       FROM (VALUES ${rows.mkString(",")}) t(a, b, lcs_sim, difflib_ratio)
       ORDER BY a, b"""
  }

  def qAgencyMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val inputs = resource("table_agency.json").properties().asScala.toSeq
      .map(_.getKey).sorted
    val matchUdf = udf((x: String) => FicTransform.matchAgency(x.toUpperCase.trim).orNull)
    inputs.toDF("input")
      .withColumn("matched", matchUdf(col("input")))
      .orderBy(col("input"))
  }

  def qAgencyMatchOracle: String = {
    val exp = resource("table_agency.json")
    val rows = exp.properties().asScala.toSeq.sortBy(_.getKey).map { e =>
      s"('${e.getKey.replace("'", "''")}', ${sqlLit(e.getValue)})"
    }
    s"""SELECT input, CAST(matched AS VARCHAR) AS matched
       FROM (VALUES ${rows.mkString(",")}) t(input, matched)
       ORDER BY input"""
  }

  /** Unicode NFC normalization, cross-engine (f42): the same fixture —
    * decomposed/composed accents, canonical reordering, Hangul jamo
    * composition, singleton decompositions (Å U+212B, Ω U+2126),
    * no-op ASCII/CJK/emoji — normalized by graft's
    * `nfc_normalize` Catalyst expression (JDK java.text.Normalizer)
    * and by DuckDB's `nfc_normalize` (utf8proc). Two independent
    * UAX#15 implementations must agree byte-for-byte; the fixture
    * strings are shared INPUT, each engine computes its own output.
    * Rows keyed by an integer id (never ORDER BY a non-ASCII string —
    * engine collations differ).
    */
  private[operators] val nfcFixture: Seq[String] = Seq(
    "café",            // decomposed e + COMBINING ACUTE -> é
    "café",             // already composed (no-op)
    "año niño",  // decomposed ñ, twice
    "Äpfel",           // decomposed Ä
    "Ångström",  // decomposed Å + ö
    "Ångström",    // ANGSTROM SIGN singleton -> U+00C5 Å
    "Ω resistance",     // OHM SIGN singleton -> U+03A9 Ω
    "각",    // Hangul jamo -> syllable 각
    "q̣̇",         // combining-class REORDER: dot above (ccc 230) before dot below (ccc 220) -> NFC swaps them
    "plain ascii text",
    "数据模型",               // CJK (no-op)
    "🚀 rocket")   // 4-byte emoji (no-op)

  def qNfcNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.sql.GraftExtensions.register(s)
    nfcFixture.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "raw")
      .withColumn("norm", expr("nfc_normalize(raw)"))
      .withColumn("changed", col("norm") =!= col("raw"))
      .orderBy(col("id"))
  }

  def qNfcNormalizeOracle: String = {
    val rows = nfcFixture.zipWithIndex
      .map { case (t, i) => s"($i, '${t.replace("'", "''")}')" }
    s"""SELECT CAST(id AS BIGINT) AS id, raw, nfc_normalize(raw) AS norm,
              nfc_normalize(raw) <> raw AS changed
       FROM (VALUES ${rows.mkString(",")}) t(id, raw)
       ORDER BY id"""
  }

  val all: Seq[GateQuery] = Seq(
    GateQuery("f42_nfc_normalize", qNfcNormalize, Some(qNfcNormalizeOracle)),
    GateQuery("f37_fic_chain", qFicChain, Some(qFicChainOracle)),
    GateQuery("f38_spanish_dates", qSpanishDates, Some(qSpanishDatesOracle)),
    GateQuery("f39_clean_monetary", qCleanMonetary, Some(qCleanMonetaryOracle)),
    GateQuery("f40_similarity", qSimilarity, Some(qSimilarityOracle)),
    GateQuery("f41_agency_match", qAgencyMatch, Some(qAgencyMatchOracle)),
  )
}
