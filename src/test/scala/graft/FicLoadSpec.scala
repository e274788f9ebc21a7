package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fic.{FicLookup, FicSchema, FicShredder, FicTransform, FicUpsert}

/** Shred + upsert semantics over the reference's golden corpus. */
class FicLoadSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val transformed = {
    spark.sparkContext.setLogLevel("WARN")
    val raw = spark.read.option("multiLine", true).schema(FicSchema.raw)
      .json(s"${ReferenceCorpus.RawJson}/*.json")
      .withColumn("filename", regexp_extract(input_file_name(), "([^/]+)$", 1))
    FicTransform(raw, FicLookup(Nil))
  }

  test("shred produces the 9-table star with consistent keys") {
    ReferenceCorpus.assumeRawJson()
    val sh = FicShredder(transformed)
    assert(sh.fic.count() == 7)
    assert(sh.caracteristicas.count() == 7)
    assert(sh.calificacion.count() == 7)
    assert(sh.rawJson.count() == 7)
    // children join back to parents with no orphans
    sh.all.filter(_._1 != "fic").foreach { case (name, child) =>
      val orphans = child.join(sh.fic, Seq("fic_id"), "left_anti").count()
      assert(orphans == 0, s"$name has $orphans orphan rows")
    }
    // rentabilidad and volatilidad fan out from the same array
    assert(sh.rentabilidadHistorica.count() == sh.volatilidadHistorica.count())
    // composition categories all present
    val cats = sh.composicionPortafolio.select("tipo_composicion").distinct()
      .collect().map(_.getString(0)).toSet
    assert(cats.subsetOf(Set("activo", "tipo_renta", "sector_economico",
      "pais_emisor", "moneda", "calificacion")))
    // participations arrive 6-dp rounded decimals in [0, ~1.1]
    val bad = sh.composicionPortafolio
      .filter(col("participacion") > 1.5 || col("participacion") < -0.5).count()
    assert(bad == 0)
  }

  test("latest-wins upsert: update, noop and null-date duplicate-insert") {
    import spark.implicits._
    val snapshot = Seq(
      (1L, "F1", "u1", "2025-06-30"),
      (2L, "F2", "u2", "2025-06-30"),
      (3L, "F3", "u3", null.asInstanceOf[String]))
      .toDF("fic_id", "nombre_fic", "url", "fecha_corte")

    val incoming = Seq(
      (10L, "F1", "u1", "2025-07-31"), // newer -> update
      (11L, "F2", "u2", "2025-05-31"), // older -> noop
      (12L, "F3", "u3", "2025-07-31"), // existing date null -> insert dup
      (13L, "F4", "u4", "2025-07-31"), // unseen key -> insert
      (14L, "F2", "u2", null))         // incoming date null -> insert dup
      .toDF("fic_id", "nombre_fic", "url", "fecha_corte")

    val m = FicUpsert.merge(snapshot, incoming)
    val act = m.actions.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(act == Map(10L -> "update", 11L -> "noop", 12L -> "insert",
      13L -> "insert", 14L -> "insert"))
    // only the update names the version it supersedes
    val old = m.actions.collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(old == Map(10L -> Some(1L), 11L -> None, 12L -> None,
      13L -> None, 14L -> None))

    val ficRows = m.fic.collect().map(_.getLong(0)).toSet
    // 1 replaced by 10; 2 and 3 survive; 12,13,14 inserted
    assert(ficRows == Set(10L, 2L, 3L, 12L, 13L, 14L))

    assert(m.replacedIds.collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("batch-internal collisions resolve to the latest dated version") {
    import spark.implicits._
    val snapshot = Seq((1L, "F1", "u1", "2025-05-31"))
      .toDF("fic_id", "nombre_fic", "url", "fecha_corte")
    val incoming = Seq(
      (10L, "F1", "u1", "2025-06-30"), // superseded within the batch
      (11L, "F1", "u1", "2025-07-31"), // latest -> the only update
      (12L, "F1", "u1", null))         // null-dated still inserts (quirk)
      .toDF("fic_id", "nombre_fic", "url", "fecha_corte")
    val m = FicUpsert.merge(snapshot, incoming)
    val ids = m.fic.collect().map(_.getLong(0)).toSet
    assert(ids == Set(11L, 12L), ids.toString)
    val act = m.actions.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(act == Map(11L -> "update", 12L -> "insert"))
  }

  test("empty-string fecha_corte is falsy: duplicate-insert on either side") {
    import spark.implicits._
    // load.py:197 gates the date compare with Python truthiness, so ''
    // behaves exactly like None: no update, no noop, no cascade-delete.
    val snapshot = Seq(
      (1L, "F1", "u1", ""),           // existing ''-dated snapshot row
      (2L, "F2", "u2", "2025-06-30"))
      .toDF("fic_id", "nombre_fic", "url", "fecha_corte")
    val incoming = Seq(
      (10L, "F1", "u1", "2025-07-31"), // dated vs ''-dated -> insert dup, keep old
      (11L, "F2", "u2", ""),           // ''-dated vs dated -> insert dup, not noop
      (12L, "F2", "u2", ""))           // second ''-dated version also inserts
      .toDF("fic_id", "nombre_fic", "url", "fecha_corte")
    val m = FicUpsert.merge(snapshot, incoming)
    val act = m.actions.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(act == Map(10L -> "insert", 11L -> "insert", 12L -> "insert"), act.toString)
    // nothing is replaced; the ''-dated snapshot row survives
    assert(m.replacedIds.count() == 0)
    val ids = m.fic.collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 10L, 11L, 12L), ids.toString)
  }

  test("child cascade follows parent updates") {
    import spark.implicits._
    val snapChild = Seq((1L, "a"), (2L, "b")).toDF("fic_id", "v")
    val inChild = Seq((10L, "a2"), (11L, "x")).toDF("fic_id", "v")
    val replaced = Seq(Tuple1(1L)).toDF("fic_id")
    val applied = Seq(Tuple1(10L)).toDF("fic_id")
    val out = FicUpsert.mergeChildren(snapChild, inChild, replaced, applied)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((2L, "b"), (10L, "a2")))
  }
}
