package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.fic.FicTransform
import graft.functions.{PyRound, Similarity, SpanishDate}

/** Property tests for the tricky scalar operators (SURVEY §5 plan #3):
  * invariants that must hold for ANY input, complementing the
  * golden-pinned fixtures. Deterministic sampling (fixed seed) over raw
  * ScalaCheck generators — the scalatestplus bridge is not in the
  * offline dependency cache.
  */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach { a =>
        try f(a)
        catch {
          case e: Throwable =>
            throw new AssertionError(s"property failed for input: $a", e)
        }
      }
      seed = seed.next
      i += 1
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(
      f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc))(t => f(t._1, t._2, t._3))

  private val anyString: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.asciiPrintableStr,
    Gen.oneOf("jul-25", "31-jul-25", "31/07/2025", "2025-07-31", "", "x"),
    Gen.listOf(Gen.oneOf('0' to '9')).map(_.mkString("-")))

  test("SpanishDate.parse is total and emits Y-M-D shape or null") {
    forAll(anyString) { s =>
      val r = SpanishDate.parse(s)
      assert(r == null || r.matches("\\d{1,4}-\\d{2}-\\d{2}"))
    }
  }

  test("SpanishDate numeric paths never emit pre-1990 years") {
    // named-month patterns deliberately skip the guard (reference quirk);
    // every purely numeric input must respect year >= 1990
    forAll(Gen.chooseNum(1, 31), Gen.chooseNum(1, 12), Gen.chooseNum(0, 2100)) {
      (d, m, y) =>
        val r = SpanishDate.parse(f"$d%02d/$m%02d/$y%04d")
        assert(r == null || r.substring(0, 4).toInt >= 1990)
    }
  }

  test("difflib ratio is bounded and reflexive") {
    // NOT symmetric: Ratcliff/Obershelp block selection depends on
    // argument order (difflib behaves the same way).
    forAll(Gen.alphaStr, Gen.alphaStr) { (a, b) =>
      val r = Similarity.ratio(a, b)
      assert(r >= 0.0 && r <= 1.0)
      assert(Similarity.ratio(a, a) == 1.0)
    }
  }

  test("lcs similarity tiers: exact=1, containment=0.9, bounded") {
    forAll(Gen.alphaStr.suchThat(_.nonEmpty), Gen.alphaStr.suchThat(_.nonEmpty)) {
      (a, b) =>
        val r = Similarity.lcsSimilarity(a, b)
        assert(r >= 0.0 && r <= 1.0)
        assert(Similarity.lcsSimilarity(a, a) == 1.0)
        if (a != b && (a.contains(b) || b.contains(a)))
          assert(r == 0.9)
    }
  }

  test("limpiar_valor lands in (-inf, 1e6+eps] and is idempotent-ish") {
    forAll(Gen.chooseNum(-1e18, 1e18)) { v =>
      val r = FicTransform.limpiarValor(v)
      // loop exits at <= 1e6; one final 2-dp round can nudge above only
      // by < 0.005
      assert(r <= 1000000.005)
      val again = FicTransform.limpiarValor(r)
      assert(math.abs(again - r) <= 0.005)
    }
  }

  test("limpiar_valor leaves an overflowed +Infinity as is instead of looping") {
    assert(FicTransform.limpiarValor(Double.PositiveInfinity) == Double.PositiveInfinity)
  }

  test("py_round output is a fixed point at the same scale") {
    forAll(Gen.chooseNum(-1e9, 1e9), Gen.chooseNum(0, 8)) { (v, s) =>
      val r = PyRound.round(v, s)
      assert(PyRound.round(r, s) == r)
    }
  }

  test("percent conversion heuristic keeps magnitudes in decimal range") {
    // _convertir_si_es_necesario invariant: output is |v| <= 1 when input
    // came from a percent scale up to 100, else input/100
    forAll(Gen.chooseNum(-110.0, 110.0)) { v =>
      val out = if (math.abs(v) > 1.0) PyRound.round(v / 100.0, 6)
                else PyRound.round(v, 6)
      assert(math.abs(out) <= 1.100001)
    }
  }
}
