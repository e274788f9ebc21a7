package graft.fic

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Latest-`fecha_corte`-wins upsert — the reference's load-stage head
  * semantics (/root/reference/src/etl/load.py:173-236), including its
  * explicit quirk: when either date is falsy (None OR empty string —
  * load.py:197 `if fecha_existente and fecha_nueva:`) the incoming
  * record is inserted as a DUPLICATE row instead of updating
  * (load.py:217-219).
  *
  * The rule exists once, as plain Scala: [[classify]] decides one upsert
  * key (url, nombre_fic) from its incoming versions and the latest
  * existing one. The load runs it inside its writer tasks
  * ([[latestWins]], called by [[graft.load.JdbcSink.loadDocuments]])
  * against a [[Snapshot]] the driver read before the job. [[merge]] is
  * the same rule as DataFrame operators — one equi-join between the
  * batch and the snapshot on the key — kept as the reference that
  * [[classify]] is tested against and for DataFrame callers. Children
  * are overwritten by `fic_id` for updated parents (the delete+reinsert
  * cascade U2 becomes "exclude old fic_id, append new rows" — idempotent
  * under task retry). Dates compare as Spark compares strings
  * (`UTF8String` binary order); for ISO dates that is exactly the
  * reference's string comparison (SURVEY D4).
  *
  * Known, deliberate divergence: on the not-newer ("noop") path the
  * reference still APPENDS the incoming document's child rows under the
  * existing parent id (load.py:115-135 run unconditionally; only the
  * update path deletes first), accumulating duplicate children. We
  * treat that as a defect and drop noop rows entirely; callers needing
  * strict replication can attach children via `actions`.
  *
  * Batch-internal collisions: the reference processes files one-by-one,
  * each seeing the previous commit. A distributed batch applies the same
  * rule associatively: among dated versions of one key, only the
  * latest survives comparison against the snapshot; null-dated versions
  * always insert. This holds on an empty database too.
  */
object FicUpsert {

  final case class Merged(
      /** snapshot after the merge */
      fic: DataFrame,
      /** (fic_id, action ∈ insert|update|noop, old_fic_id) for the
        * incoming rows; old_fic_id is the superseded version's fic_id on
        * the update path and null otherwise
        */
      actions: DataFrame,
      /** fic_ids whose child rows must be replaced (update path) */
      replacedIds: DataFrame)

  /** Python truthiness for dates: load.py:197 gates the compare with
    * `if fecha_existente and fecha_nueva:` — an EMPTY STRING is falsy
    * just like None, so ''-dated rows take the duplicate-insert branch.
    */
  private def truthyDate(c: org.apache.spark.sql.Column) =
    c.isNotNull && c =!= lit("")

  /** One version of an upsert key: its fic_id and fecha_corte (nullable). */
  final case class Version(ficId: Long, fechaCorte: String)

  /** The load's decision for one incoming version: `action` is insert,
    * update or noop; `oldFicId` is the superseded version on update.
    */
  final case class Action(ficId: Long, action: String, oldFicId: Option[Long])

  /** The latest existing version per (url, nombre_fic). */
  type Snapshot = Map[(String, String), Version]

  private def truthy(fecha: String): Boolean = fecha != null && fecha.nonEmpty

  /** Spark's string order: UTF-8 bytes, unsigned — not `String.compareTo`,
    * which orders UTF-16 code units and disagrees above U+FFFF.
    */
  private def compareDates(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** `a` ranks before `b`: fecha_corte descending with nulls last, then
    * fic_id ascending — the order of [[merge]]'s windows.
    */
  private def ranksFirst(a: Version, b: Version): Boolean =
    (a.fechaCorte, b.fechaCorte) match {
      case (null, null) => a.ficId < b.ficId
      case (null, _) => false
      case (_, null) => true
      case (x, y) =>
        val c = compareDates(x, y)
        if (c != 0) c > 0 else a.ficId < b.ficId
    }

  /** The rule for one key: the latest of its dated `versions` is an
    * update when it and `prior` (the key's latest existing version) are
    * both dated and it is newer, a noop when both are dated and it is not
    * newer, and an insert otherwise; falsy-dated versions always insert;
    * the other dated versions are superseded within the batch and get no
    * action.
    */
  def classify(versions: Seq[Version], prior: Option[Version]): Seq[Action] = {
    val (dated, falsy) = versions.partition(v => truthy(v.fechaCorte))
    val winner = dated.reduceOption((a, b) => if (ranksFirst(b, a)) b else a)
    val datedPrior = prior.filter(p => truthy(p.fechaCorte))
    winner.map { w =>
      datedPrior match {
        case Some(p) if compareDates(w.fechaCorte, p.fechaCorte) > 0 =>
          Action(w.ficId, "update", Some(p.ficId))
        case Some(_) => Action(w.ficId, "noop", None)
        case None => Action(w.ficId, "insert", None)
      }
    }.toSeq ++ falsy.map(v => Action(v.ficId, "insert", None))
  }

  /** [[Snapshot]] of the existing fic table's (url, nombre_fic, version)
    * rows: per key the version that ranks first, as [[merge]] dedups its
    * snapshot. A row with a null url or nombre_fic matches no document.
    */
  def snapshot(rows: Iterator[(String, String, Version)]): Snapshot =
    rows.filter { case (u, n, _) => u != null && n != null }
      .foldLeft(Map.empty: Snapshot) { case (m, (u, n, v)) =>
        m.get((u, n)) match {
          case Some(cur) if !ranksFirst(v, cur) => m
          case _ => m.updated((u, n), v)
        }
      }

  /** [[classify]] over one task's documents, sorted so that the versions
    * of one key are adjacent: the inserted and updating documents, each
    * with the fic_id it supersedes, in input order. Memory is one key's
    * versions.
    */
  def latestWins[A](sorted: Iterator[A], prior: Snapshot)(
      key: A => (String, String), version: A => Version): Iterator[(A, Option[Long])] = {
    val docs = sorted.buffered
    Iterator.continually(docs).takeWhile(_.hasNext).flatMap { it =>
      val k = key(it.head)
      val group = scala.collection.mutable.ArrayBuffer(it.next())
      while (it.hasNext && key(it.head) == k) group += it.next()
      val applied = classify(group.map(version).toSeq, prior.get(k))
        .collect { case Action(id, a, old) if a != "noop" => id -> old }.toMap
      group.iterator.flatMap(d => applied.get(version(d).ficId).map(d -> _))
    }
  }

  /** `snapshot` and `incoming` both carry the fic-table columns
    * (fic_id, nombre_fic, url, fecha_corte, ...).
    */
  def merge(snapshot: DataFrame, incoming: DataFrame): Merged = {
    // Batch-internal resolution first: the reference processes files
    // sequentially, so among DATED versions of one key only the latest
    // would survive; falsy-dated versions always insert (the quirk) and
    // bypass resolution. Without this, two dated versions in one batch
    // would both classify as updates and both land in the snapshot.
    val dated = incoming.filter(truthyDate(col("fecha_corte")))
    val nullDated = incoming.filter(!truthyDate(col("fecha_corte")))
    val wLatest = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url"), col("nombre_fic"))
      .orderBy(col("fecha_corte").desc, col("fic_id"))
    val resolved = dated
      .withColumn("__rn", row_number().over(wLatest))
      .filter(col("__rn") === 1).drop("__rn")
      .unionByName(nullDated)

    val snap = snapshot.select(
      col("fic_id").as("old_fic_id"),
      col("url").as("old_url"),
      col("nombre_fic").as("old_nombre"),
      col("fecha_corte").as("old_fecha"))

    // Reference probe: first() on (url, nombre_fic) — resolve the batch
    // side first so one incoming row matches at most one snapshot row.
    val dedupSnap = snap
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("old_url"), col("old_nombre"))
          .orderBy(col("old_fecha").desc_nulls_last, col("old_fic_id"))))
      .filter(col("rn") === 1).drop("rn")

    val probed = resolved.join(dedupSnap,
      col("url") === col("old_url") && col("nombre_fic") === col("old_nombre"),
      "left_outer")

    val bothDated = col("old_fic_id").isNotNull &&
      truthyDate(col("fecha_corte")) && truthyDate(col("old_fecha"))

    val action =
      when(col("old_fic_id").isNull, "insert")
        .when(bothDated && col("fecha_corte") > col("old_fecha"), "update")
        .when(bothDated, "noop")
        .otherwise("insert") // falsy-date duplicate-insert quirk

    val classified = probed.withColumn("action", action)

    val actions = classified.select(col("fic_id"), col("action"),
      when(col("action") === "update", col("old_fic_id")).as("old_fic_id"))
    val replacedIds = classified.filter(col("action") === "update")
      .select(col("old_fic_id").as("fic_id"))

    // New snapshot: drop rows superseded by an update, keep everything
    // else, append inserted + updated incoming rows.
    val incomingCols = incoming.columns.toIndexedSeq.map(col)
    val surviving = snapshot.join(replacedIds, Seq("fic_id"), "left_anti")
    val appended = classified.filter(col("action") =!= "noop")
      .select(incomingCols: _*)

    Merged(surviving.unionByName(appended), actions, replacedIds)
  }

  /** U2 child cascade as a DataFrame rewrite: drop child rows of
    * replaced parents, append the children of applied incoming rows.
    */
  def mergeChildren(snapshotChild: DataFrame, incomingChild: DataFrame,
      replacedIds: DataFrame, appliedIds: DataFrame): DataFrame = {
    snapshotChild.join(replacedIds, Seq("fic_id"), "left_anti")
      .unionByName(incomingChild.join(appliedIds, Seq("fic_id"), "left_semi"))
  }
}
