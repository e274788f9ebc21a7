package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Expectations

/** Incremental data-quality trend state for the monthly-drop pipeline
  * (r13, VERDICT #7; r14 VERDICT #4 made the rule set pluggable and
  * added the source grain): run the expectations rule pass and a
  * t62-style volume rollup over EACH drop's batch and publish them as
  * epoch state, so the recurring pipeline reports quality trends
  * without ever re-scanning the accumulated corpus — the t88/t89/t62
  * discipline composed onto the [[StreamingState]] epoch layout.
  *
  * Per batch, ONE aggregation pass ([[Expectations.evaluateBy]], the
  * same builder gates t88–t90 certify) produces:
  *
  *  - `report`  — (epoch, scope, rule, severity, n_violations, pass):
  *    this drop's rule counts, sized rules × scopes. `scope` is the
  *    grouping-column value when a grain is requested (e.g. per
  *    source, `graft-drop --quality-by source`), null for the global
  *    row set; `severity` records whether the rule is a promotion
  *    INVARIANT or a feed-health SCREEN, so trend readers and the
  *    drop log can split them without the compiled rule set in hand.
  *  - `profile` — (epoch, n_docs, n_chars): this drop's volume row.
  *
  * The rule set itself is a parameter (default [[dropRules]]) — a
  * deployment passes its own, e.g. a [[graft.operators.RulePack]]
  * loaded from config — as are the grain columns. Both commit
  * atomically under the batch's epoch marker; replays of a committed
  * batch id return the persisted report. Nothing here is ever
  * state-sized: per-drop writes are rules × scopes, and the trend /
  * cumulative reads union those tiny rows — corpus-wide totals FOLD
  * (row-rule violation counts and volume sums are additive across
  * disjoint drops), so [[readTotals]] is a sum over per-epoch rows,
  * not a corpus scan. Within-drop id uniqueness is the one
  * intentionally batch-scoped rule: cross-drop re-sends are not errors
  * (the dedup index anti-joins them away); a global-uniqueness total
  * would be wrong to fold, so it is not offered.
  */
object IncrementalQuality {

  private val Format = StreamingState.Format("IncrementalQuality")

  private val reportSchema: StructType = StructType(Seq(
    StructField("epoch", LongType, nullable = true),
    StructField("scope", StringType, nullable = true),
    StructField("rule", StringType, nullable = true),
    StructField("severity", StringType, nullable = true),
    StructField("n_violations", LongType, nullable = true),
    StructField("pass", BooleanType, nullable = true)))

  private val profileSchema: StructType = StructType(Seq(
    StructField("epoch", LongType, nullable = true),
    StructField("n_docs", LongType, nullable = true),
    StructField("n_chars", LongType, nullable = true)))

  /** The default drop-batch rule set — over the (doc_id, text) schema
    * drops actually carry. Invariants break promotion; screens
    * (empty/short docs) are feed-health trend material.
    */
  def dropRules: Seq[Expectations.Rule] = Seq(
    Expectations.rowRule("doc_id_not_null", col("doc_id").isNull),
    Expectations.unique("doc_id_unique_in_batch", col("doc_id")),
    Expectations.rowRule("text_not_null", col("text").isNull),
    Expectations.rowRule("text_not_empty",
      length(trim(col("text"))) === 0, Expectations.Screen),
    Expectations.rowRule("short_doc",
      length(col("text")) < 20, Expectations.Screen))

  private def severityName(s: Expectations.Severity): String = s match {
    case Expectations.Invariant => "invariant"
    case Expectations.Screen    => "screen"
  }

  /** rules-sized rule → severity decode expression. */
  private def severityExpr(rules: Seq[Expectations.Rule]): Column =
    rules.foldLeft(lit(null).cast("string")) { (acc, r) =>
      when(col("rule") === r.name, lit(severityName(r.severity))).otherwise(acc)
    }

  /** Evaluate `rules` (+ volume profile) over one batch at the
    * `groupCols` grain and commit both atomically under `batchId`;
    * returns the batch's (scope, rule, severity, n_violations, pass)
    * report. Replays return the persisted report.
    */
  def processBatch(batch: DataFrame, path: String, batchId: Long,
      rules: Seq[Expectations.Rule] = dropRules,
      groupCols: Seq[String] = Nil): DataFrame = {
    val spark = batch.sparkSession
    StreamingState.fold(spark, path, Format, batchId, Map("report" -> reportSchema)) {
      val scope =
        if (groupCols.isEmpty) lit(null).cast("string")
        else concat_ws("/", groupCols.map(c => col(c).cast("string")): _*)
      val report = Expectations.evaluateBy(batch, rules, groupCols)
        .select(lit(batchId).as("epoch"), scope.as("scope"), col("rule"),
          severityExpr(rules).as("severity"), col("n_violations"), col("pass"))
      val profile = batch.agg(
          count(lit(1)).as("n_docs"),
          coalesce(sum(length(col("text"))), lit(0L)).cast("long").as("n_chars"))
        .select(lit(batchId).as("epoch"), col("n_docs"), col("n_chars"))
      Map("report" -> report, "profile" -> profile)
    }("report").drop("epoch")
  }

  /** Document count of committed epoch `batchId`, from its volume row. */
  def committedDocs(spark: SparkSession, path: String, batchId: Long): Long =
    spark.read.schema(profileSchema)
      .parquet(StreamingState.epochRel(path, batchId, "profile"))
      .select(col("n_docs")).collect().map(_.getLong(0)).sum

  /** Per-drop rule counts across every committed epoch — the quality
    * trend a dashboard plots (epoch ascending, scope, rule).
    */
  def readTrend(spark: SparkSession, path: String): DataFrame =
    StreamingState.read(spark, path, Format, "report", reportSchema)
      .orderBy(col("epoch"), col("scope"), col("rule"))

  /** Per-drop volume rows (epoch, n_docs, n_chars), epoch ascending. */
  def readProfile(spark: SparkSession, path: String): DataFrame =
    StreamingState.read(spark, path, Format, "profile", profileSchema)
      .orderBy(col("epoch"))

  /** Cumulative rule totals over all drops so far — additive across
    * disjoint batches for every offered rule (the batch-scoped
    * uniqueness rule is summed as "violations seen", documented
    * above). Sized rules × scopes, derived from the per-epoch trend.
    */
  def readTotals(spark: SparkSession, path: String): DataFrame =
    readTrend(spark, path)
      .groupBy(col("scope"), col("rule"))
      .agg(sum(col("n_violations")).as("n_violations"),
        max(col("severity")).as("severity"))
      .withColumn("pass", col("n_violations") === 0L)
      .select(col("scope"), col("rule"), col("severity"),
        col("n_violations"), col("pass"))
      .orderBy(col("scope"), col("rule"))

  /** Compact the trend/profile delta logs into one checkpoint copy so
    * [[readTrend]]/[[readTotals]] stop unioning one fragment per drop
    * (r14, VERDICT #6). NOTHING is vacuumed: the per-epoch `report`
    * dirs double as the replay-persisted reports ([[processBatch]]
    * reads them by batch id), so only the read path folds — the
    * rules-sized epoch rows stay on disk for replay.
    */
  def compact(spark: SparkSession, path: String): Unit =
    StreamingState.compactDeltas(spark, path, Format,
      Map("report" -> reportSchema, "profile" -> profileSchema), vacuumDeltas = false)
}
