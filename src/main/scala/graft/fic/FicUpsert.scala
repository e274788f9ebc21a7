package graft.fic

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Latest-`fecha_corte`-wins upsert — the reference's load-stage head
  * semantics (/root/reference/src/etl/load.py:173-236), including its
  * explicit quirk: when either date is falsy (None OR empty string —
  * load.py:197 `if fecha_existente and fecha_nueva:`) the incoming
  * record is inserted as a DUPLICATE row instead of updating
  * (load.py:217-219).
  *
  * Distributed shape (SURVEY §2.9 U1/U2): one equi-join between the
  * incoming batch and the current snapshot on the upsert key
  * (url, nombre_fic). Children are overwritten by `fic_id` for updated
  * parents (the delete+reinsert cascade U2 becomes "exclude old fic_id,
  * append new rows" — idempotent under task retry). ISO date strings
  * compare lexicographically, which is exactly the reference's string
  * comparison (SURVEY D4).
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
  * always insert.
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
