package graft.fic

import java.util.regex.Pattern

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.{DataFrame, GraftColumn}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, ExpectsInputTypes, Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{PyRound, Similarity, SpanishDate}

/** Bank→fund→URL lookup (the reference's `fics.json`,
  * /root/reference/src/etl/transform.py:205-223). Declared as ordered
  * sequences because the reference iterates JSON-object insertion order
  * when scanning for containment / best-score matches — a Map would lose
  * the deterministic tie behavior.
  */
final case class FicLookup(banks: Seq[(String, Seq[(String, String)])])
    extends Serializable {
  def isEmpty: Boolean = banks.isEmpty
  /** Plans print the kernel's arguments: a count, not the whole lookup. */
  override def toString: String = s"FicLookup(${banks.size} banks)"
}

/** The FIC transform chain — the reference's 8 passes
  * (/root/reference/src/etl/transform.py:19-68) as one
  * DataFrame → DataFrame function.
  *
  * Every pass reads one document only, so the chain is one
  * [[FicKernel]] per row: plain Scala over the nested record, wrapped as
  * a single Catalyst expression. The plan is a scan and two narrow
  * projections, shuffle-free and stream-safe, and it is small enough
  * that a cold JVM plans it in milliseconds. The passes reuse the
  * scalar functions below plus [[SpanishDate.parse]] and
  * [[PyRound.round]] (CPython rounding parity).
  *
  * Divergence from the reference, by design: string-typed participation
  * values inside a category would crash the reference's format inference
  * (`sum()` over mixed types, transform.py:549); here they are parsed
  * first and participate normally — repair-not-crash per SURVEY §7.8.
  */
object FicTransform {

  /** Recognized rating agencies (transform.py:12-16). Declared order is
    * the containment-scan order: the reference iterates a Python set
    * (nondeterministic); we fix the order so that the observed golden
    * outputs reproduce (difflib's cutoff path is order-independent —
    * ties resolve to the lexicographically greatest candidate).
    */
  val Agencies: Seq[String] = Seq(
    "FITCH RATINGS", "FITCH", "STANDARD & POOR'S", "S&P",
    "MOODY'S", "DBRS", "BRC", "BRC INVESTOR SERVICES",
    "VALORA", "VALORAMERICA", "CEC", "CEPAL", "ICFC")

  /** Bank-filename → fics.json-key alias map (transform.py:275-295). */
  val BankAliases: Map[String, String] = Map(
    "bancodebogota" -> "bancoDeBogota",
    "bancodeoccidentefiduoccidente" -> "bancoDeOccidenteFiduoccidente",
    "credicorpcapital" -> "credicorpCapital",
    "bancolombia" -> "bancolombia",
    "bbva" -> "bbva",
    "davivienda" -> "davivienda",
    "bancoagrario" -> "bancoAgrario",
    "bancoavvillas" -> "bancoAvVillas",
    "bancocajasocial" -> "bancoCajaSocial",
    "bancoomeva" -> "bancoomeva",
    "bancoopular" -> "bancoPopular",
    "bancofinandina" -> "bancolombia",
    "bancopichincha" -> "bancoPichincha",
    "bancoreservas" -> "bancoDeBogota",
    "bancoinsa" -> "insa",
    "cititrust" -> "citiTrust",
    "gnbsudameris" -> "gnbSudameris",
    "scotiabankcolpatria" -> "scotiabankColpatria")

  /** Aggressive fund-name normalization (transform.py:306-325):
    * lowercase, then SEQUENTIAL substring removal in this exact order
    * (order matters: later tokens may appear only after earlier ones are
    * removed, e.g. "altaliquidez" → "tiquiz").
    */
  private val FundStripTokens: Seq[String] = Seq(
    "fondodeinversioncolectiva", "fic", "abierto", "cerrado",
    "de", "y", "en", "la", "el", "los", "las", "del", "al",
    " ", "-", "_", ".", ",", ";", ":", "!", "?", "(", ")", "[", "]")

  def normalizeFundName(name: String): String = {
    var n = name.toLowerCase
    FundStripTokens.foreach(t => n = n.replace(t, ""))
    n
  }

  private def squash(s: String): String =
    s.toLowerCase.replace(" ", "").replace("-", "").replace("_", "")

  /** `_normalizar_nombre_banco` (transform.py:270-303). */
  def normalizeBankName(bancoLower: String): String =
    BankAliases.getOrElse(squash(bancoLower), bancoLower)

  /** `_buscar_banco_coincidente` (transform.py:358-384): exact squashed
    * → containment (lookup order) → difflib cutoff 0.6.
    */
  def matchBank(banco: String, keys: Seq[String]): Option[String] = {
    val bn = squash(banco)
    // single ordered loop checking exact OR containment per candidate —
    // the reference returns the FIRST candidate satisfying either, so an
    // earlier containment match beats a later exact match
    keys.find { k =>
      val kn = squash(k)
      kn == bn || bn.contains(kn) || kn.contains(bn)
    }.orElse(Similarity.closeMatch(banco, keys, 0.6))
  }

  /** `_buscar_coincidencia_difusa` (transform.py:712-733): difflib
    * cutoff 0.8 (order-independent — ties resolve to the greatest
    * string), then substring containment. The reference's containment
    * scan iterates a Python set, whose order varies with the process
    * hash seed — observed to flip e.g. FITCH vs FITCH RATINGS for
    * 'FITCH RATINGS COLOMBIA'. We fix a deterministic policy: scan
    * shortest candidate first (most general name wins), equal lengths in
    * reverse alphabetical order — this matches the reference's
    * majority-seed behavior on every observed input (e.g.
    * 'BRC RATINGS - S&P GLOBAL' → S&P).
    */
  private val AgenciesByLength =
    Agencies.sortBy(a => (a.length, a))(
      Ordering.Tuple2(Ordering.Int, Ordering.String.reverse))

  def matchAgency(entUpper: String): Option[String] = {
    if (entUpper == null || entUpper.isEmpty) return None
    Similarity.closeMatch(entUpper, Agencies, 0.8)
      .orElse(AgenciesByLength.find(o => entUpper.contains(o) || o.contains(entUpper)))
  }

  /** Fund-level URL pick (transform.py:226-259): exact normalized match
    * short-circuits; otherwise best strictly-improving score > 0.7 in
    * lookup order.
    */
  def pickFundUrl(fundNorm: String, funds: Seq[(String, String)]): Option[String] = {
    var bestUrl: Option[String] = None
    var bestScore = 0.0
    val it = funds.iterator
    while (it.hasNext) {
      val (key, url) = it.next()
      val kn = normalizeFundName(key)
      val score = Similarity.lcsSimilarity(fundNorm, kn)
      if (kn == fundNorm) return Some(url)
      else if (score > bestScore && score > 0.7) { bestUrl = Some(url); bestScore = score }
    }
    bestUrl
  }

  /** Full URL enrichment from the filename (transform.py:171-269). */
  def urlForFilename(filename: String, lookup: FicLookup): Option[String] = {
    if (filename == null || !filename.contains("_")) return None
    val parts = filename.split("_")
    if (parts.length < 3) return None
    val fund = parts.slice(1, parts.length - 1).mkString("_")
    val bancoRaw = parts(0).toLowerCase
    val bancoNorm = normalizeBankName(bancoRaw)
    matchBank(bancoNorm, lookup.banks.map(_._1)).flatMap { bankKey =>
      val funds = lookup.banks.find(_._1 == bankKey).map(_._2).getOrElse(Nil)
      pickFundUrl(normalizeFundName(fund), funds)
    }
  }

  /** `limpiar_valor` (transform.py:70-86): ÷1000 while > 1e6, then
    * CPython round(·, 2). The iterative division is kept (each step
    * rounds in IEEE) — a closed-form pow division would differ in ulps.
    * +Infinity (an overflowing number token) stays as it is instead of
    * looping forever.
    */
  def limpiarValor(v: java.lang.Double): java.lang.Double = {
    if (v == null) return null
    var x = v.doubleValue()
    if (x == 0.0) return 0.0
    while (x > 1000000.0 && !x.isInfinite) x /= 1000.0
    PyRound.round(x, 2)
  }

  /** Apply the 8-pass transform. `df` must carry the [[FicSchema.raw]]
    * top-level columns, plus `filename` when `lookup` is non-empty.
    * Every other column passes through and the input column order is
    * kept. [[FicKernel]] runs once per row; the seven transformed
    * columns are read out of its result.
    */
  def apply(df: DataFrame, lookup: FicLookup): DataFrame = {
    val doc = CreateNamedStruct(FicKernel.Input.fieldNames.toSeq.flatMap { f =>
      Seq(Literal(f),
        if (f == "filename" && lookup.isEmpty) Literal(null, StringType)
        else UnresolvedAttribute.quoted(f))
    })
    df.withColumn(Doc, GraftColumn(FicKernel(doc, lookup)))
      .withColumns(FicSchema.transformed.fieldNames.map(f => f -> col(s"$Doc.$f")).toMap)
      .drop(Doc)
  }

  private val Doc = "__fic_doc"

  private val TipoKeywords: Seq[Seq[String]] = Seq(
    Seq("renta fija", "bonos", "cdt", "certificado de depósito",
      "tes", "títulos de deuda", "deuda pública", "tasa fija", "fixed income",
      "instrumentos de deuda", "papeles comerciales", "obligaciones"),
    Seq("renta variable", "acciones", "equity",
      "bolsa de valores", "mercado accionario", "stocks", "índices accionarios",
      "participaciones", "capitalización bursátil"),
    Seq("mixta", "balanced", "balanceado", "combinado",
      "renta fija y variable", "fija y variable", "diversificado",
      "multiactivo", "multi-activo"),
    Seq("alternativa", "alternative", "hedge fund",
      "fondos de cobertura", "private equity", "capital privado",
      "inmobiliario", "real estate", "commodities", "materias primas",
      "infraestructura", "derivados", "divisas", "forex", "opciones", "futuros"))

  /** Spark's `lower` on a UTF8_BINARY string, as the two calls its
    * `CollationSupport.Lower.execBinaryICU` makes: ASCII maps byte by
    * byte; anything else goes through ICU's `UCharacter.toLowerCase`,
    * which follows the JVM default locale's rules (tr, az and lt map
    * some letters differently), with invalid UTF-8 read as U+FFFD.
    * Calling `CollationSupport` itself would initialize
    * `CollationAwareUTF8String`, whose static table (ICU title case
    * over all 1,114,112 code points) costs a cold JVM 1.5–2 s.
    */
  def lower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  /** Spark's `upper`, as [[lower]]. */
  def upper(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toUpperCaseAscii
    else UTF8String.fromString(UCharacter.toUpperCase(s.toValidString))

  /** `_extraer_tipo_fic` (transform.py:107-169): keyword votes per fund
    * type (Renta Fija, Renta Variable, Mixta, Alternativa), argmax in
    * that order. Of the reference's content fallbacks only "hedge" can
    * still fire: every other one is a keyword, so it has already voted.
    * Lower-cases with [[lower]], as Spark's `lower` does.
    */
  def tipoFic(politica: String): String = {
    val p = lower(UTF8String.fromString(if (politica == null) "" else politica)).toString
    val Seq(rf, rv, mx, al) = TipoKeywords.map(_.count(p.contains))
    if (rf > 0 && rf >= rv && rf >= mx && rf >= al) "Renta Fija"
    else if (rv > 0 && rv >= mx && rv >= al) "Renta Variable"
    else if (mx > 0 && mx >= al) "Mixta"
    else if (al > 0 || p.contains("hedge")) "Alternativa"
    else "Desconocido"
  }
}

/** The whole 8-pass transform of one document as one Catalyst
  * expression: `struct(<FicSchema.raw columns>, filename)` →
  * [[FicSchema.transformed]]. Interpreted only (`CodegenFallback`):
  * whole-stage codegen calls `eval` once per row, so the plan stays a
  * scan and two narrow projections whatever the document shape.
  */
case class FicKernel(child: Expression, lookup: FicLookup)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[StructType] = Seq(FicKernel.Input)
  override def dataType: DataType = FicSchema.transformed

  override protected def nullSafeEval(doc: Any): Any =
    FicKernel.transform(doc.asInstanceOf[InternalRow], lookup)

  override protected def withNewChildInternal(newChild: Expression): FicKernel =
    copy(child = newChild)

  override def prettyName: String = "fic_kernel"
}

/** The passes over one raw document row. Values keep the semantics of
  * the SQL functions the transform was first written in: `trim` strips
  * U+0020 only, numbers parse like `cast`/`try_cast` to double (a
  * failed parse is null), case mapping is `lower`/`upper`'s
  * ([[FicTransform.lower]]), and sums add left to right from 0.0.
  */
object FicKernel {

  val Input: StructType = FicSchema.raw.add("filename", StringType)

  private val Empty = new GenericArrayData(Array.empty[Any])

  /** JSON number tokens arrive as their literal text and take the
    * reference's float branch; all other text its string branch.
    */
  private val NumberLit = Pattern.compile("^-?[0-9]+(\\.[0-9]+)?([eE][+-]?[0-9]+)?$")

  private def row(values: Any*): InternalRow = new GenericInternalRow(values.toArray)

  private def string(s: UTF8String): String = if (s == null) null else s.toString

  private def toDouble(s: String): java.lang.Double =
    try java.lang.Double.valueOf(s) catch { case _: NumberFormatException => null }

  /** A string-or-number value. The string branch keeps only
    * [0-9.-] — plus ',' (read as '.') and '%' for percentages, where a
    * surviving '%' fails the parse (transform.py:592-597,790-805).
    */
  private def parse(v: UTF8String, percent: Boolean): java.lang.Double = {
    if (v == null) return null
    val t = v.trim().toString
    if (NumberLit.matcher(t).find()) return toDouble(t)
    val kept = new java.lang.StringBuilder
    t.foreach { c =>
      if ((c >= '0' && c <= '9') || c == '.' || c == '-') kept.append(c)
      else if (percent && c == ',') kept.append('.')
      else if (percent && c == '%') kept.append(c)
    }
    toDouble(kept.toString)
  }

  private def round6(v: Double): java.lang.Double = PyRound.round(v, 6)

  /** One percentage list (transform.py:537-632). The category format is
    * decided by the sum of the parsed values alone: ×100 data when it is
    * in [90, 110], fractions when in [0.9, 1.1] — the reference's count
    * tests only ever choose between these two disjoint windows. With
    * neither, each value converts on its own magnitude.
    */
  private def percentages(r: InternalRow, i: Int): ArrayData = {
    val a = if (r == null) null else r.getArray(i)
    if (a == null) return Empty
    val items = Array.tabulate(a.numElements())(j => a.getStruct(j, 2))
    val values = items.map(it => if (it == null) null else parse(it.getUTF8String(1), percent = true))
    var sum = 0.0
    values.foreach(v => if (v != null) sum += v)
    val scaled = sum >= 90 && sum <= 110
    val fraction = sum >= 0.9 && sum <= 1.1
    new GenericArrayData(Array.tabulate[Any](items.length) { j =>
      val v = values(j)
      row(if (items(j) == null) null else items(j).getUTF8String(0),
        if (v == null) null
        else if (scaled || (!fraction && math.abs(v) > 1.1)) round6(v / 100.0)
        else round6(v))
    })
  }

  /** Returns and volatilities (`_convertir_si_es_necesario`,
    * transform.py:635-661): always a struct, of nulls for a missing one.
    */
  private def horizons(h: InternalRow): InternalRow = new GenericInternalRow(
    Array.tabulate[Any](6) { i =>
      val v = if (h == null) null else parse(h.getUTF8String(i), percent = true)
      if (v == null) null else if (math.abs(v) > 1.0) round6(v / 100.0) else round6(v)
    })

  /** Dates: falsy values ("" and null) pass through unchanged, and so
    * does text that does not parse.
    */
  private def date(s: UTF8String): UTF8String =
    if (s == null || s.numBytes == 0) s
    else Option(UTF8String.fromString(SpanishDate.parse(s.toString))).getOrElse(s)

  def transform(doc: InternalRow, lookup: FicLookup): InternalRow = {
    val fic = doc.getStruct(0, 5)
    val comp = doc.getStruct(2, 6)
    val car = doc.getStruct(3, 4)
    val cal = doc.getStruct(4, 3)
    val rv = doc.getArray(6)
    row(
      // passes 3, 5 and 6: cut-off date, fund type, URL
      if (fic == null) null
      else row(fic.getUTF8String(0), fic.getUTF8String(1), fic.getUTF8String(2),
        date(fic.getUTF8String(3)), fic.getUTF8String(4),
        UTF8String.fromString(FicTransform.tipoFic(string(fic.getUTF8String(4)))),
        if (lookup.isEmpty) null
        else UTF8String.fromString(
          FicTransform.urlForFilename(string(doc.getUTF8String(7)), lookup).orNull)),
      // passes 1 and 8: percentages, missing lists repaired to empty ones
      percentages(doc, 1),
      row((0 until 6).map(percentages(comp, _)): _*),
      // passes 3, 4 and 7: dates, numbers, monetary rescale
      if (car == null) null
      else row(car.getUTF8String(0),
        FicTransform.limpiarValor(parse(car.getUTF8String(1), percent = false)),
        date(car.getUTF8String(2)), parse(car.getUTF8String(3), percent = false)),
      // passes 2 and 7: rating agency, rating date
      if (cal == null) null
      else {
        val ent = cal.getUTF8String(2)
        val applied = ent != null && ent.numBytes > 0
        val matched = if (!applied) None
          else FicTransform.matchAgency(FicTransform.upper(ent.trim()).toString)
        row(cal.getUTF8String(0), date(cal.getUTF8String(1)),
          matched.map(UTF8String.fromString).getOrElse(ent),
          if (applied) matched.isDefined else null)
      },
      percentages(doc, 5),
      if (rv == null) Empty
      else new GenericArrayData(Array.tabulate[Any](rv.numElements()) { j =>
        val e = rv.getStruct(j, 3)
        if (e == null) row(null, horizons(null), horizons(null))
        else row(e.getUTF8String(0), horizons(e.getStruct(1, 6)), horizons(e.getStruct(2, 6)))
      }))
  }
}
