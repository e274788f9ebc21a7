package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types._
import graft.operators.Analytics

/** Incremental quantile-histogram maintenance — the streaming
  * counterpart of the batch q44 gate (`Analytics.qQuantileSketch`),
  * completing the streaming sketch family: StreamingCms (counts),
  * StreamingHll (distincts), and now quantiles. The persisted state is
  * the q44 sketch itself — a (group, bin, cnt) fixed-width histogram
  * built by the SAME `Analytics.histSketch` construction — folded per
  * micro-batch by pure counter ADDITION, the property that makes a
  * histogram (and not a GK/t-digest summary, whose merge is lossy and
  * order-dependent) the right STREAMING quantile sketch: any
  * micro-batch split of a corpus sums to the bit-identical bin
  * relation the batch gate computes over the union (pinned by
  * StreamingQuantileSpec on randomized splits).
  *
  * Like the CMS counters — and unlike StreamingHll's max-merged
  * registers — sums are NOT replay-idempotent, so each batch folds
  * through [[StreamingState.fold]] under its own batch id: the merged
  * bins are published by the atomic creation of the marker
  * `commits/<batchId>`, and a batch id whose marker exists is a replay
  * and computes nothing.
  *
  * At 100 TB the shape holds: per batch one map-side-combinable
  * groupBy(group, bin) over the batch only, a merge against a table
  * that never exceeds groups × 256 rows, and quantile reads that are
  * a cumulative window over that broadcast-sized table.
  */
object StreamingQuantile {

  val sketchSchema: StructType = StructType(Seq(
    StructField("g", StringType, nullable = false),
    StructField("bin", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  private val Format = StreamingState.Format("StreamingQuantile")

  /** Current sketch contents (empty if never written). */
  def readSketch(spark: SparkSession, path: String): DataFrame = {
    StreamingState.open(spark, path, Format)
    StreamingState.readCurrent(spark, path, "bins", sketchSchema)
  }

  /** One micro-batch's bin counts — the q44 construction verbatim, so
    * streamed sketches are bit-identical to batch ones.
    */
  def batchBins(rows: DataFrame, group: Column, cents: Column): DataFrame =
    Analytics.histSketch(
      rows.select(group.cast("string").as("g"), cents.as("c")), "g", col("c"))
      .select(col("g"), col("bin"), col("cnt"))

  /** Fold one micro-batch into the persisted sketch by counter
    * addition. Returns true if applied, false on a replayed batch id.
    */
  def applyBatch(rows: DataFrame, path: String,
      group: Column, cents: Column, batchId: Long): Boolean = {
    val spark = rows.sparkSession
    val fresh = !StreamingState.isCommitted(spark, path, batchId)
    // reads the previous epoch, writes the next (no lineage truncation)
    StreamingState.fold(spark, path, Format, batchId, Map.empty,
        fullState = Seq("bins")) {
      Map("bins" -> readSketch(spark, path)
        .unionByName(batchBins(rows, group, cents))
        .groupBy(col("g"), col("bin")).agg(sum(col("cnt")).as("cnt"))
        .select(col("g"), col("bin"), col("cnt")))
    }
    fresh
  }

  /** Per-group quantile answers from the persisted sketch — the q44
    * estimate semantics (first bin whose cumulative count reaches the
    * exact rank target k = ceil(q*n/100)), over the groups x 256-row
    * state.
    */
  def quantiles(spark: SparkSession, path: String, qs: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = readSketch(spark, path)
    val wb = Window.partitionBy(col("g")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hcum = hist.withColumn("cum", sum(col("cnt")).over(wb))
    val ks = hist.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
      .select(col("g"), col("n"),
        explode(lit(qs.toArray)).as("q"))
      .withColumn("k", expr("(n * q + 99) div 100"))
    ks.join(hcum, Seq("g"))
      .filter(col("cum") >= col("k"))
      .groupBy(col("g"), col("q"), col("n"), col("k"))
      .agg(min(col("bin")).as("est_bin"))
      .orderBy(col("g"), col("q"))
  }

  /** Streaming surface: foreachBatch maintaining the sketch; the
    * callback observes (sketch-so-far, batchId) after each fold.
    */
  def sink(rows: DataFrame, path: String, group: Column, cents: Column)
      (onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(batch, path, group, cents, id)
        onBatch(readSketch(batch.sparkSession, path), id)
        ()
      }
}
