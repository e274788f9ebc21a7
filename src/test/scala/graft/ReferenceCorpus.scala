package graft

import java.nio.file.{Files, Paths}

import org.scalatest.Assertions.assume

/** The reference implementation's own fixtures: the 7 raw FIC JSONs of
  * its 2025-07 drop and the 7 fact-sheet PDFs they came from. The
  * committed goldens (`golden/<doc>_expected.json`) were derived from those
  * raw documents, but neither folder is in the repository. Specs that
  * assert facts of exactly these documents start with a guard on the
  * folder they read: they are CANCELED where it is absent and run
  * unchanged wherever it exists.
  */
object ReferenceCorpus {

  val RawJson = "/root/reference/data/json_raw_2025_07"
  val Pdfs = "/root/reference/data/pdfs"

  /** Cancels the calling test unless [[RawJson]] exists; returns it. */
  def assumeRawJson(): String = assumeDir(RawJson)

  /** Cancels the calling test unless [[Pdfs]] exists; returns it. */
  def assumePdfs(): String = assumeDir(Pdfs)

  private def assumeDir(dir: String): String = {
    assume(Files.isDirectory(Paths.get(dir)), s"$dir absent")
    dir
  }
}

/** Minimal PDFs for specs whose extract path never parses a PDF: the
  * stub OCR client and structurizer read only a file's name and length.
  */
object PdfFixture {

  /** A new temp folder of `n` distinctly named `%PDF-1.4` files. */
  def folder(n: Int): String = {
    val dir = Files.createTempDirectory("pdfs")
    (1 to n).foreach { i =>
      Files.writeString(dir.resolve(f"fund_$i%02d.pdf"),
        s"%PDF-1.4\n% fixture $i\n%%EOF\n")
    }
    dir.toString
  }
}

/** The committed raw documents of `src/test/resources/fic-parity`. */
object ParityFixture {

  def rawDir: String =
    Paths.get(getClass.getResource("/fic-parity/raw").toURI).toString
}
