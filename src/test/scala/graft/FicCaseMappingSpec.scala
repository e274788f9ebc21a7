package graft

import java.util.Locale
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.fic.FicTransform

/** The FIC kernel's case mapping (`FicTransform.lower`/`upper`) against
  * Spark's own `lower`/`upper` on UTF8_BINARY strings
  * (`CollationSupport.{Lower,Upper}.execBinaryICU`), and a guard that
  * the kernel's case-mapping calls never initialize Spark's collation
  * tables in a cold JVM.
  */
class FicCaseMappingSpec extends AnyFunSuite {

  private val Inputs: Seq[(String, UTF8String)] = Seq(
    "ASCII" -> "Renta Fija de CORTO plazo, 60% TES & CDT (2025)!",
    "Spanish accents and Ñ" -> "Política de Inversión: ÁÉÍÓÚ áéíóú ÜÑ ü ñ Ñandú",
    "sharp s" -> "Straße groß",
    "dotted and dotless i, fi ligature" -> "İstanbul ıi ﬁnanzas İI",
    "Greek final sigma" -> "ΟΔΟΣ ΣΟΦΙΑΣ",
    "agency" -> "  Fitch Ratings Colombia S.A. – Calificación  ",
    "empty" -> ""
  ).map { case (name, s) => name -> UTF8String.fromString(s) } :+
    // 0xFF and a truncated 2-byte sequence: both read as U+FFFD
    ("invalid UTF-8" -> UTF8String.fromBytes(Array[Byte](0x61, 0xff.toByte, 0x62, 0xc3.toByte)))

  private def assertSameAsSpark(): Unit = Inputs.foreach { case (name, s) =>
    assert(FicTransform.lower(s) == CollationSupport.Lower.execBinaryICU(s), s"lower: $name")
    assert(FicTransform.upper(s) == CollationSupport.Upper.execBinaryICU(s), s"upper: $name")
  }

  test("lower and upper equal Spark's lower and upper byte for byte") {
    assertSameAsSpark()
    val upper = FicTransform.upper(UTF8String.fromString("Straße"))
    assert(upper.toString == "STRASSE")
    val invalid = FicTransform.upper(Inputs.last._2)
    assert(invalid.toString == "A�B�", invalid.toString)
    assert(FicTransform.tipoFic(null) == "Desconocido")
    assert(FicTransform.tipoFic("") == "Desconocido")
    assert(FicTransform.tipoFic("RENTA VARIABLE: ACCIONES Y ÍNDICES ACCIONARIOS") == "Renta Variable")
  }

  test("under a Turkish default locale the mapping still equals Spark's") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      assertSameAsSpark()
      // non-ASCII text follows the locale; all-ASCII text maps byte by byte
      assert(FicTransform.lower(UTF8String.fromString("IŞIK")).toString == "ışık")
      assert(FicTransform.lower(UTF8String.fromString("ISIK")).toString == "isik")
    } finally Locale.setDefault(saved)
  }

  test("a cold JVM maps non-ASCII text without loading Spark's collation tables") {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cmd = Seq(java, "-Xmx256m", "-verbose:class", "-cp",
      System.getProperty("java.class.path"), "graft.FicCaseMappingProbe")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor(120, TimeUnit.SECONDS), "probe did not finish")
    assert(proc.exitValue() == 0, out.takeRight(4000))
    val lines = out.linesIterator.toSeq
    assert(lines.contains(FicCaseMappingProbe.line), out.takeRight(4000))
    // the non-ASCII path ran: ICU's case mapping was loaded
    assert(lines.exists(_.contains("com.ibm.icu.lang.UCharacter ")), "UCharacter never loaded")
    val loaded = lines.filter(_.contains("org.apache.spark.sql.catalyst.util.CollationAwareUTF8String"))
    assert(loaded.isEmpty, loaded.mkString("\n"))
  }
}

/** The child JVM of the cold-path guard: the fund-type lower and the
  * agency upper of the FIC kernel on non-ASCII text.
  */
object FicCaseMappingProbe {
  def line: String = {
    val tipo = FicTransform.tipoFic("Inversión en ACCIONES y participaciones: Ñ")
    val agency = FicTransform.matchAgency(FicTransform.upper(
      UTF8String.fromString(" Fitch Ratings Colombia – Calificación ").trim()).toString)
    s"probe: $tipo ${agency.orNull}"
  }

  def main(args: Array[String]): Unit = println(line)
}
