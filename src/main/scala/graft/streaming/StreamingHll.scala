package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types._
import graft.operators.Analytics

/** Incremental HyperLogLog maintenance — the streaming counterpart of
  * the batch q43 gate (`Analytics.qHllSketch`), in the persisted-
  * artifact shape of StreamingCms: a per-(group, register) table of
  * max ranks lives as a parquet file; each micro-batch's registers
  * fold into it by register-wise MAX, the merge HLL was designed
  * around (Flajolet et al. 2007 §4 — the same operation 1000
  * executors' partial sketches reduce with on a real cluster).
  *
  * Unlike StreamingCms, replays need no detection: max-merge is
  * idempotent (max(a, a) = a), so a replayed micro-batch — streaming
  * retry semantics re-deliver the same data under the same batch id —
  * re-maxes the sketch onto itself and cannot distort it. Each fold
  * goes through [[StreamingState.fold]] under the next free epoch id,
  * so a replay lands in a fresh epoch with identical contents. That
  * asymmetry is exactly the sum-vs-max distinction between the two
  * sketch families: counters need exactly-once, registers only need
  * at-least-once. (A batch with NEW data under a replayed id would be
  * a source-contract violation, not something replay detection could
  * repair either.)
  *
  * Batch parity is the correctness story: registers are built by the
  * SAME md5/bucket/rank construction as the oracle-checked q43 gate
  * (`Analytics.hllRegisters`), so any micro-batch split of a corpus
  * merges to the bit-identical register relation the batch gate
  * computes over the union — pinned by StreamingHllSpec on randomized
  * splits — and summaries come from the shared reduction
  * (`Analytics.hllSummary`): integer harmonic sum, one IEEE division.
  *
  * At 100 TB the shape holds: per batch one (group, j) max-aggregation
  * (map-side combinable) over at most groups × 256 rows, a merge
  * against a table that NEVER grows with the corpus (groups × 256
  * rows), and estimate reads that are a broadcast-sized scan.
  */
object StreamingHll {

  val registerSchema: StructType = StructType(Seq(
    StructField("g", StringType, nullable = false),
    StructField("j", LongType, nullable = false),
    StructField("rr", LongType, nullable = false)))

  private val Format = StreamingState.Format("StreamingHll")

  /** Current register relation (empty if never written). */
  def readRegisters(spark: SparkSession, path: String): DataFrame = {
    StreamingState.open(spark, path, Format)
    StreamingState.readCurrent(spark, path, "registers", registerSchema)
  }

  /** One micro-batch's register relation (g, j, rr) — the q43
    * construction verbatim, so streamed sketches are bit-identical to
    * batch ones.
    */
  def batchRegisters(rows: DataFrame, group: Column, value: Column): DataFrame =
    Analytics.hllRegisters(
      rows.select(group.cast("string").as("g"), value.as("v")), "g", col("v"))

  /** Fold one micro-batch into the persisted registers (register-wise
    * max). Safe to re-apply: see the idempotence note above.
    */
  def applyBatch(rows: DataFrame, path: String,
      group: Column, value: Column): Unit = {
    val spark = rows.sparkSession
    // reads the previous epoch's directory, writes the next (no
    // in-place overwrite, so no lineage truncation needed)
    StreamingState.fold(spark, path, Format,
        StreamingState.currentEpoch(spark, path) + 1L, Map.empty,
        fullState = Seq("registers")) {
      Map("registers" -> readRegisters(spark, path)
        .unionByName(batchRegisters(rows, group, value))
        .groupBy(col("g"), col("j")).agg(max(col("rr")).as("rr"))
        .select(col("g"), col("j"), col("rr")))
    }
    ()
  }

  /** Per-group distinct-count summary of the persisted sketch —
    * zero_regs, exact integer harmonic sum, raw estimate — via the
    * shared q43 reduction.
    */
  def summary(spark: SparkSession, path: String): DataFrame =
    Analytics.hllSummary(readRegisters(spark, path), "g").orderBy(col("g"))

  /** Streaming surface: foreachBatch maintaining the registers; the
    * callback observes (summary-so-far, batchId) after each fold.
    */
  def sink(rows: DataFrame, path: String, group: Column, value: Column)
      (onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(batch, path, group, value)
        onBatch(summary(batch.sparkSession, path), id)
        ()
      }
}
