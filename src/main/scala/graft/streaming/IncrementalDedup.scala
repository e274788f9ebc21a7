package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.operators.TextOps

/** Incremental MinHash+LSH index maintenance (r5, VERDICT #6): the
  * monthly-drop dedup story as an UPDATEABLE signature index instead of
  * the session-static [[graft.operators.SessionMemo]] materializations.
  *
  * The index is a persisted table (parquet) of one row per document:
  * its distinct shingle array, shingle count, and the 4 banded MinHash
  * signatures, signed by the batch gates' MinHash kernel itself
  * (TextOps.shingled / withMinhashes / bandKey, shared with t28/t73:
  * 8 Kirsch–Mitzenmacher minhash minima off one md5 per shingle,
  * 4 bands × 2 rows). Each micro-batch:
  *
  *  1. computes signatures for the NEW documents only (the old
  *     documents' raw text is never touched — their signatures are
  *     read back from the index);
  *  2. probes new-vs-all through the band equi-join (never
  *     all-vs-all, never old-vs-old — the work per batch is
  *     O(new × collisions));
  *  3. verifies candidates with exact Jaccard over the stored shingle
  *     arrays;
  *  4. commits the new documents' signature rows AND the batch's pair
  *     report as ONE atomic epoch (r12, [[StreamingState]] marker
  *     discipline). Replayed batch ids resolve to their committed
  *     report; re-sent doc ids are anti-joined out before probing.
  *
  * At 100 TB scale the same shape holds: the index is a table keyed by
  * doc_id (bucketed/partitioned on the band signature for the probe
  * join), new drops are a few percent of the corpus, and the probe
  * shuffles only the new side plus colliding index rows.
  */
object IncrementalDedup {

  private val Bands = TextOps.MinhashBands

  /** On-disk format version. History: 1 = seeded-md5 string minima
    * with bare band concat (≤ r9); 2 = Kirsch–Mitzenmacher 40-bit
    * integer minima with ':'-separated band keys, flat appended
    * parquet (r10–r11); 3 = the same signature scheme over the
    * epoch-committed delta LAYOUT (r12) — one `epoch-<batch>/` dir per
    * drop holding the signature delta AND that batch's pair report,
    * published by a single atomic marker. v1/v2 signatures can never
    * collide with the current scheme (v1) or would be silently
    * invisible to the committed-deltas reader (v2), so probing either
    * would silently miss every true near-duplicate instead of
    * failing — the marker turns that silent miss into a hard error at
    * open time. v2 indexes carry compatible signatures but a flat
    * layout with no per-batch commit log, so their crash window
    * (appended-but-unreported batches) is unrecoverable — rebuild.
    *
    * The stamp also records the signing normalization (r13): an index
    * signed over NFC-normalized text probed with raw-text signatures
    * (or vice versa) silently misses exactly the cross-spelling
    * duplicates the normalization exists to catch, so the mode is
    * part of the format — `3` vs `3+nfc`, mismatches refuse at open.
    */
  private[streaming] val FormatVersion = 3

  /** The index's open-time format ([[StreamingState.open]]): stamped
    * `3` or `3+nfc`; readers accept either, the writer only the stamp
    * of its own signing normalization.
    */
  private def format(normalizeNfc: Boolean) = StreamingState.Format(
    "IncrementalDedup index",
    Some(if (normalizeNfc) s"$FormatVersion+nfc" else FormatVersion.toString),
    reads = Set(FormatVersion.toString, s"$FormatVersion+nfc"),
    hint = " (signatures of mixed signing modes silently miss true " +
      "near-duplicates: match the --normalize-nfc setting the index was created with)")

  val indexSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("shs", ArrayType(StringType), nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("score", DoubleType, nullable = true)) ++
    (1 to Bands).map(b => StructField(s"b$b", StringType, nullable = true)))

  /** Doc-level signature rows for a (doc_id, text) batch, signed by
    * the batch gates' own MinHash kernel ([[TextOps.shingled]] →
    * [[TextOps.withMinhashes]] → [[TextOps.bandKey]]): in-row, no
    * shuffle, bit-identical to t28's signatures. The t52 quality
    * score is computed here too — at arrival, while the text is in
    * hand — so a document paired in a LATER drop (its text long gone
    * from the stream) can still be survivor-elected: the pair report
    * carries both endpoints' scores into the cluster fold.
    *
    * `normalizeNfc` (r13, the documented use case at
    * [[graft.functions.UnicodeNormalize]]): NFC-normalize the text
    * BEFORE shingling, so composed and decomposed spellings of the
    * same word ("café" as U+00E9 vs e+U+0301 — different byte
    * strings, disjoint shingle sets) sign identically and the dedup
    * family pairs them. Opt-in: signatures are only comparable within
    * one normalization mode, which the index format marker enforces.
    */
  def docSignatures(docs: DataFrame, normalizeNfc: Boolean = false): DataFrame = {
    val text =
      if (!normalizeNfc) docs
      else {
        graft.sql.GraftExtensions.register(docs.sparkSession)
        docs.withColumn("text", expr("nfc_normalize(text)"))
      }
    val scored = TextOps.withQualityScore(text.withColumn("words", TextOps.wordsCol))
    val sigs = TextOps.withMinhashes(
      TextOps.shingled(scored, col("doc_id"), col("score")).filter(col("n") > 0))
    (1 to Bands).foldLeft(sigs) { case (df, b) =>
      df.withColumn(s"b$b", TextOps.bandKey(b))
    }.select(indexSchema.fieldNames.toIndexedSeq.map(col): _*)
  }

  private[streaming] val pairsSchema: StructType = StructType(Seq(
    StructField("doc_a", LongType, nullable = true),
    StructField("doc_b", LongType, nullable = true),
    StructField("jaccard", DoubleType, nullable = true),
    StructField("score_a", DoubleType, nullable = true),
    StructField("score_b", DoubleType, nullable = true)))

  /** Current committed index contents ((session, path) may not exist
    * yet): the union of every marker-published epoch's signature
    * delta. Existence resolves through Hadoop's FileSystem
    * (HDFS/S3-safe) and an existing index must carry the current
    * format version.
    */
  def readIndex(spark: SparkSession, path: String): DataFrame =
    StreamingState.read(spark, path, format(false), "index", indexSchema)

  /** Ids-only banded view: the probe join must move (id, band, sig)
    * rows, never the shingle arrays — payloads re-attach by id for
    * the (small) candidate set only.
    */
  private def bandRows(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      posexplode(array((1 to Bands).map(b => col(s"b$b")): _*))
        .as(Seq("band_id", "band_sig")))

  /** Probe the new batch against the index (and itself), commit the
    * new signatures AND the batch's verified pair report in ONE atomic
    * epoch (r12, VERDICT #2), and return the pairs
    * (doc_a, doc_b, jaccard) with doc_a < doc_b, at least one side new.
    *
    * Exactly-once: a crash anywhere before the epoch marker leaves the
    * batch invisible (the retry recomputes and overwrites the orphan
    * epoch dir); a crash after the marker means the pairs are already
    * durable — the retry sees the committed batch id and returns the
    * PERSISTED report, so a caller that copies reports per batch id
    * (overwrite, idempotent) can never lose a batch's pairs the way
    * the r11 append-index-then-write-report sequence could.
    */
  def processBatch(batch: DataFrame, indexPath: String, batchId: Long,
      threshold: Double = 0.5, normalizeNfc: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    StreamingState.fold(spark, indexPath, format(normalizeNfc), batchId,
        Map("pairs" -> pairsSchema)) {
      val existing = readIndex(spark, indexPath)
      val fresh = docSignatures(batch, normalizeNfc)
        .join(existing.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val all = existing.unionByName(fresh)

      // the probe is a self-join (fresh rides inside `all`), so the
      // target side gets explicitly renamed columns — fresh exprIds —
      // instead of dataset aliases, which resolve ambiguously here
      val target = bandRows(all).select(
        col("doc_id").as("t_doc_id"), col("band_id").as("t_band_id"),
        col("band_sig").as("t_band_sig"))
      val candIds = bandRows(fresh)
        .join(target,
          col("band_id") === col("t_band_id") &&
          col("band_sig") === col("t_band_sig") &&
          col("doc_id") =!= col("t_doc_id"))
        .select(
          least(col("doc_id"), col("t_doc_id")).as("doc_a"),
          greatest(col("doc_id"), col("t_doc_id")).as("doc_b"))
        .distinct()
      val payload = all.select(col("doc_id"), col("shs"), col("n"), col("score"))
      val cand = candIds
        .join(payload.select(col("doc_id").as("doc_a"), col("shs").as("shs_a"),
          col("n").as("n_a"), col("score").as("score_a")), Seq("doc_a"))
        .join(payload.select(col("doc_id").as("doc_b"), col("shs").as("shs_b"),
          col("n").as("n_b"), col("score").as("score_b")), Seq("doc_b"))
      // No localCheckpoint needed under the epoch layout: the committed
      // index `existing` is stable throughout (this batch's rows live in
      // an epoch dir no reader resolves until the marker), so the pair
      // plan is materialized once — by the epoch write itself — against
      // a listing that cannot shift under it.
      val pairs = cand
        .withColumn("inter",
          size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
        .withColumn("jaccard",
          col("inter") / (col("n_a") + col("n_b") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          col("score_a"), col("score_b"))
      Map("index" -> fresh, "pairs" -> pairs)
    }("pairs")
  }

  /** Batch-API convenience (specs, ad-hoc use): commits under the next
    * free epoch id. Re-sent documents are still no-ops via the doc-id
    * anti-join; streaming callers should use [[processBatch]] with the
    * engine's batch id so REPLAYS resolve to the committed report.
    */
  def probeAndUpdate(batch: DataFrame, indexPath: String,
      threshold: Double = 0.5, normalizeNfc: Boolean = false): DataFrame =
    processBatch(batch, indexPath,
      StreamingState.currentEpoch(batch.sparkSession, indexPath) + 1L,
      threshold, normalizeNfc)

  /** Compact the signature delta log into one copy and drop the
    * superseded per-drop dirs (crash-safe: see
    * [[StreamingState.checkpointDeltas]]). Epoch markers and pair
    * reports stay, so replay detection and report reads keep working
    * for the whole history. Run lazily, e.g. yearly on a monthly-drop
    * cadence.
    */
  def compact(spark: SparkSession, indexPath: String): Unit =
    StreamingState.compactDeltas(spark, indexPath, format(false),
      Map("index" -> indexSchema))

  /** Streaming surface: foreachBatch maintaining the index, handing
    * each micro-batch's verified near-dup pairs to the caller.
    */
  def sink(docs: DataFrame, indexPath: String, threshold: Double = 0.5,
      normalizeNfc: Boolean = false)
      (onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val pairs = processBatch(batch, indexPath, id, threshold, normalizeNfc)
        onBatch(pairs, id)
        pairs.unpersist()
        ()
      }
}
