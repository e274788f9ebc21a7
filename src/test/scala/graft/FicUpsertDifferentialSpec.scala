package graft

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.fic.FicUpsert
import graft.fic.FicUpsert.{Action, Version}

/** `FicUpsert.classify`, the load's per-key kernel, against the
  * DataFrame reference `FicUpsert.merge` over seeded batches and
  * snapshots: both must give the same (fic_id, action, old_fic_id) set.
  */
class FicUpsertDifferentialSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Dated, equal, falsy and non-ASCII dates. The last two order one way
    * as UTF-8 bytes (Spark) and the other way as UTF-16 (`compareTo`).
    */
  private val Dates: IndexedSeq[String] = IndexedSeq(null, "", "2025-06-30",
    "2025-07-31", "2025-07-31", "2025-08-31", "31 de julio", "julio 2025 ñ",
    "2025-07-😀", "2025-07-１")

  private val Urls: IndexedSeq[String] = IndexedSeq(null, "u1", "u2")

  /** (fic_id, nombre_fic, url, fecha_corte) rows over `trials` key pools:
    * `n` per trial, fic_ids unique across `idBase`'s range (signed).
    */
  private def rows(rnd: Random, trials: Int, n: Int, idBase: Long)
      : Seq[(Long, String, String, String)] =
    for (t <- 0 until trials; i <- 0 until rnd.nextInt(n + 1)) yield {
      val id = (idBase + t * 100L + i) * (if (rnd.nextBoolean()) 1 else -1)
      (id, s"t$t-f${rnd.nextInt(2)}", Urls(rnd.nextInt(Urls.size)),
        Dates(rnd.nextInt(Dates.size)))
    }

  test("classify agrees with merge on seeded batches and snapshots") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val rnd = new Random(11)
    val trials = 400
    val snapRows = rows(rnd, trials, 4, 1000000L)
    val batchRows = rows(rnd, trials, 5, 1L)

    val m = FicUpsert.merge(
      snapRows.toDF("fic_id", "nombre_fic", "url", "fecha_corte"),
      batchRows.toDF("fic_id", "nombre_fic", "url", "fecha_corte"))
    val expected = m.actions.collect().map { r =>
      Action(r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))
    }.toSet

    val snapshot = FicUpsert.snapshot(snapRows.iterator.map {
      case (id, n, u, f) => (u, n, Version(id, f))
    })
    val actual = batchRows.groupBy { case (_, n, u, _) => (u, n) }.toSeq.flatMap {
      case (key, vs) =>
        FicUpsert.classify(vs.map { case (id, _, _, f) => Version(id, f) }, snapshot.get(key))
    }
    assert(actual.size == actual.toSet.size)
    assert(actual.toSet == expected)
    // the generated cases reach every branch
    assert(Set("insert", "update", "noop").subsetOf(expected.map(_.action)))
    assert(batchRows.size > expected.size, "no version was superseded within its batch")
  }

  test("latestWins writes the inserts and updates of each key group") {
    val prior = FicUpsert.snapshot(Iterator(
      ("u", "A", Version(1L, "2025-06-30")), ("u", "A", Version(2L, "2025-05-31")),
      ("u", "B", Version(3L, "2025-07-31"))))
    val docs = Seq(("A", 10L, "2025-07-31"), ("A", 11L, "2025-06-30"), ("A", 12L, ""),
      ("B", 13L, "2025-07-31"), ("C", 14L, "2025-07-31"))
    val out = FicUpsert.latestWins(docs.iterator, prior)(
      d => ("u", d._1), d => Version(d._2, d._3)).map { case (d, old) => d._2 -> old }.toList
    assert(out == List(10L -> Some(1L), 12L -> None, 14L -> None))
  }
}
