package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types._
import graft.operators.{CurationOps, TextOps}

/** Incremental Count-Min sketch maintenance — the streaming counterpart
  * of the batch t81 gate (`CurationOps.qCmsHeavyHitters`), in the
  * IncrementalDedup persisted-artifact shape: a depth×width counter
  * table lives as a parquet file; each micro-batch's term occurrences
  * fold into it by pure (d, b)-keyed ADDITION, which is the whole
  * reason a CMS (and not a space-saving summary) is the right
  * streaming sketch — counters are order-independent sums, so
  * arbitrary micro-batch splits, replays aside, produce the exact
  * sketch the batch operator builds over the union (pinned by
  * StreamingCmsSpec against a straight-line Scala reimplementation).
  *
  * Replayed batches (streaming retry semantics) must NOT double-count
  * — unlike the dedup index, whose doc-keyed rows anti-join replays
  * away for free, counter increments are not naturally idempotent. So
  * each batch folds through [[StreamingState.fold]] under its own
  * batch id: the merged cells are published by the atomic creation of
  * the marker `commits/<batchId>`, and a batch id whose marker exists
  * is a replay and computes nothing. There is no separate record of
  * applied batches that could disagree with the cells.
  *
  * At 100 TB the shape holds: per batch, one word-count aggregation
  * (map-side combinable), a depth-way in-row fan-out to at most
  * depth×width = 256 cell increments, and a 256-row merge — the
  * sketch never grows with the corpus, and probing is a broadcast
  * join against 256 rows.
  */
object StreamingCms {

  val sketchSchema: StructType = StructType(Seq(
    StructField("d", IntegerType, nullable = false),
    StructField("b", LongType, nullable = false),
    StructField("c", LongType, nullable = false)))

  private val Format = StreamingState.Format("StreamingCms")

  /** Current sketch contents (empty 0-cell sketch if never written). */
  def readSketch(spark: SparkSession, path: String): DataFrame = {
    StreamingState.open(spark, path, Format)
    StreamingState.readCurrent(spark, path, "cells", sketchSchema)
  }

  /** Cell increments for one (doc_id, text) batch — batch-local word
    * counts fanned out to (d, b) cells via the SAME bucketing as the
    * batch gate, so merged streaming cells are bit-identical to t81's.
    */
  def batchCells(docs: DataFrame): DataFrame =
    CurationOps.cmsCells(docs
      .select(explode(TextOps.wordsCol).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("tf")))

  /** Fold one micro-batch into the persisted sketch. Returns true if
    * the batch was applied, false if its id was already committed
    * (replay no-op).
    */
  def applyBatch(docs: DataFrame, path: String, batchId: Long): Boolean = {
    val spark = docs.sparkSession
    val fresh = !StreamingState.isCommitted(spark, path, batchId)
    // the merge reads the previous epoch's directory and writes the
    // next one, so no lineage truncation is needed
    StreamingState.fold(spark, path, Format, batchId, Map.empty,
        fullState = Seq("cells")) {
      Map("cells" -> readSketch(spark, path)
        .unionByName(batchCells(docs))
        .groupBy(col("d"), col("b")).agg(sum(col("c")).as("c"))
        .select(col("d"), col("b"), col("c")))
    }
    fresh
  }

  /** Point-estimate term frequencies for a (w) probe relation: est(w)
    * = min over depth rows of the counter cells w hashes to — the CMS
    * guarantee est ≥ true, with overestimate bounded by collisions.
    * A cell never written holds 0 (the sketch is a sparse table of the
    * touched cells).
    */
  def estimate(spark: SparkSession, path: String, words: DataFrame): DataFrame = {
    val (depth, _) = CurationOps.cmsParams
    val probe = words
      .select(col("w"), explode(expr(s"sequence(0, ${depth - 1})")).as("d"))
      .withColumn("b", expr(CurationOps.cmsBucketSql("d", "w")))
    probe
      .join(broadcast(readSketch(spark, path)), Seq("d", "b"), "left")
      .groupBy(col("w"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est_tf"))
      .orderBy(col("w"))
  }

  /** Streaming surface: foreachBatch maintaining the sketch; the
    * callback observes (sketch-so-far, batchId) after each fold.
    */
  def sink(docs: DataFrame, path: String)
      (onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(batch, path, id)
        onBatch(readSketch(batch.sparkSession, path), id)
        ()
      }
}
