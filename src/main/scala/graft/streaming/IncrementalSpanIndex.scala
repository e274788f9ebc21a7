package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.operators.TrainingOps

/** Incremental exact-substring index (r11, VERDICT #6; r12 epoch
  * commits + folded cap state) — the streaming counterpart of the t82
  * maximal-span family, closing the gap where the monthly-drop driver
  * deduplicated by MinHash only and a verbatim quote spanning two
  * DROPS (the t82 class: same ≥50-token passage, arbitrary alignment,
  * too little whole-document overlap for LSH) went unseen.
  *
  * The persisted artifact is the span family's one window relation
  * (TrainingOps.spanWindows, read by t65/t68/t76/t82 too): one row per
  * stride-1 token window, (doc_id, pos, h64) with h64 the 60-bit
  * md5-prefix fingerprint; its collision contract is stated there.
  *
  * Each batch is one call of the pure [[probe]] step — (committed
  * windows, prior caps, fresh windows) => (folded caps, spans) —
  * wrapped in its persistence ([[processBatch]]: the open, replay and
  * commit of [[StreamingState.fold]], the state reads and the doc-id
  * anti-join). Batch t82 is the same step over empty state
  * ([[probeFromEmpty]]), so the two agree by construction on one epoch.
  *
  * Storage is the [[StreamingState]] epoch-committed delta layout
  * (r12, VERDICT #2): each batch writes ONE `epoch-<batch>/` dir
  * holding its window delta, its doc-id delta, the FOLDED df-cap
  * state, and that batch's span report, then publishes all four with
  * a single atomic marker. A crash mid-batch leaves nothing visible
  * (the retry recomputes and overwrites the orphan dir); a crash
  * after the marker finds the spans already durable and the retry
  * returns the persisted report — the r11 layout's lost-report window
  * (windows appended, spans not yet written, replay anti-joins the
  * doc away) is structurally closed, as is the partial-append window
  * the r11 ADVICE flagged (some of a doc's windows on disk, the rest
  * never indexed).
  *
  * Each micro-batch:
  *
  *  1. windows the NEW documents only (old text is never re-read);
  *     replayed batch ids resolve to their committed report, and
  *     re-sent doc ids anti-join away against the committed doc-id
  *     deltas (one row per document — the anti-join never scans the
  *     token-sized window index);
  *  2. applies the SAME seeding caps as batch t82 — window document
  *     frequency ≤ SpanDfCap AND intra-document occurrences ≤
  *     SpanOccCap — by FOLDING the batch delta into the persisted
  *     per-h64 (docf, maxk) aggregate (r12, VERDICT #5). The fold is
  *     exact because a document's windows live in exactly one
  *     committed delta (the anti-join guarantees it), so per-doc
  *     occurrence counts never split across epochs: docf adds, maxk
  *     maxes. The r11 layout re-aggregated the FULL token-sized index
  *     (two shuffles over every stored position) per drop; the fold
  *     shuffles one row per distinct window hash plus the batch delta;
  *  3. probes new-vs-all (never old-vs-old: those pairs were reported
  *     when their younger side arrived) and extends matches to
  *     maximal spans by t82's diagonal gaps-and-islands kernel
  *     (TrainingOps.maximalSpans), emitting
  *     (doc_a, doc_b, start_a, start_b, span_len) for spans ≥
  *     MinSpan;
  *  4. commits windows + docs + caps + spans atomically (step 2's
  *     state is pruned to the two newest epochs — each copy
  *     supersedes the last — while the window/doc deltas stay live:
  *     their union IS the index).
  *
  * At 100 TB the shape holds: the window index is the corpus-sized
  * artifact (written once per document, one delta per drop); the
  * probe is ONE h64 equi-join whose fresh side is batch-sized and
  * whose index side is exchanged once (no second cap-filter join
  * over the index — the equi-join against the cold-filtered fresh
  * side enforces the same cap decisions; with Spark's runtime
  * bloom-filter join pruning the exchanged postings shrink further
  * to the colliding ones); the cap fold is bounded by distinct-hash
  * count not position count; and the span extension is window work
  * partitioned by (pair, diagonal) — bounded by matched-window
  * volume, never all-pairs. The honest per-drop floor is that one
  * index-side exchange; eliminating it outright needs hash-bucketed
  * index storage, which plain per-epoch parquet deltas don't carry.
  */
object IncrementalSpanIndex {

  private val Format = StreamingState.Format("IncrementalSpanIndex")

  val indexSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("pos", LongType, nullable = false),
    StructField("h64", LongType, nullable = false)))

  private val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false)))

  private[graft] val capsSchema: StructType = StructType(Seq(
    StructField("h64", LongType, nullable = true),
    StructField("docf", LongType, nullable = true),
    StructField("maxk", LongType, nullable = true)))

  private val spansSchema: StructType = StructType(Seq(
    StructField("doc_a", LongType, nullable = true),
    StructField("doc_b", LongType, nullable = true),
    StructField("start_a", LongType, nullable = true),
    StructField("start_b", LongType, nullable = true),
    StructField("span_len", LongType, nullable = true)))

  /** The window rows the index stores for a (doc_id, text) batch —
    * the span family's one window relation, [[TrainingOps.spanWindows]].
    */
  def windowRows(docs: DataFrame): DataFrame = TrainingOps.spanWindows(docs)

  /** Current committed window index (union of every published epoch's
    * delta; empty if never written).
    */
  def readIndex(spark: SparkSession, path: String): DataFrame =
    StreamingState.read(spark, path, Format, "windows", indexSchema)

  /** Doc ids already committed — one row per document, so the replay
    * anti-join never scans the token-sized window relation.
    */
  private def indexedDocs(spark: SparkSession, path: String): DataFrame =
    StreamingState.readCommittedDeltas(spark, path, "docs", docsSchema)

  /** The per-h64 (docf, maxk) cap aggregate of a window relation, in
    * two levels: (h64, doc) occurrence counts first (map-side
    * combinable), then per-h64 document frequency and the max
    * within-document occurrence — one extra values-sized reduce buys
    * the per-pair quadratic guard of [[TrainingOps.SpanOccCap]].
    */
  private[graft] def capAggregate(windows: DataFrame): DataFrame =
    windows.groupBy(col("h64"), col("doc_id"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("h64"))
      .agg(count(lit(1)).as("docf"), max(col("k")).as("maxk"))

  /** A cap row whose window may seed spans: document frequency
    * ≤ [[TrainingOps.SpanDfCap]] and within-document occurrences
    * ≤ [[TrainingOps.SpanOccCap]], t82's seeding discipline.
    */
  private[graft] val seeds: Column =
    col("docf") <= TrainingOps.SpanDfCap && col("maxk") <= TrainingOps.SpanOccCap

  /** What one probe step yields: the folded cap state and the maximal
    * spans (doc_a, doc_b, start_a, start_b, span_len).
    */
  private[graft] final case class Probe(caps: DataFrame, spans: DataFrame)

  /** The fold's pure step (steps 2–3 above): probe `fresh` windows
    * (documents new to the index) against the `committed` windows and
    * themselves, under the caps folded from `priorCaps` and `fresh`.
    * Only the fresh side of the h64 equi-join is cap-filtered: an index
    * posting with a hot hash can never match it, so filtering the index
    * too would add a second index-side join stage for rows the
    * equi-join already discards.
    */
  private[graft] def probe(committed: DataFrame, priorCaps: DataFrame,
      fresh: DataFrame): Probe = {
    val caps = priorCaps.unionByName(capAggregate(fresh))
      .groupBy(col("h64"))
      .agg(sum(col("docf")).as("docf"), max(col("maxk")).as("maxk"))
    val cold = caps.filter(seeds).select(col("h64"))
    val freshC = fresh.join(cold, Seq("h64"))
      .select(col("h64"), col("doc_id").as("f_doc"), col("pos").as("f_pos"))
    val allC = committed.unionByName(fresh)
      .select(col("h64"), col("doc_id").as("t_doc"), col("pos").as("t_pos"))
    val m = freshC.join(allC, Seq("h64"))
      .filter(col("f_doc") =!= col("t_doc"))
      .select(
        least(col("f_doc"), col("t_doc")).as("doc_a"),
        greatest(col("f_doc"), col("t_doc")).as("doc_b"),
        when(col("f_doc") < col("t_doc"), col("f_pos")).otherwise(col("t_pos")).as("pa"),
        when(col("f_doc") < col("t_doc"), col("t_pos")).otherwise(col("f_pos")).as("pb"))
      // a new-vs-new pair matches from both fresh sides — dedup the
      // normalized rows before island construction
      .distinct()
    Probe(caps, TrainingOps.maximalSpans(m))
  }

  /** [[probe]] over empty state: batch t82's plan. The empty index and
    * cap state are empty local relations, so Catalyst prunes both
    * unions and the plan reads only `windows`.
    */
  private[graft] def probeFromEmpty(windows: DataFrame): Probe = {
    val spark = windows.sparkSession
    def empty(schema: StructType) =
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    probe(empty(indexSchema), empty(capsSchema), windows)
  }

  /** Probe one batch against the index (and itself), commit its
    * windows + the folded cap state + the span report in one atomic
    * epoch, and return the maximal cross-document spans involving at
    * least one new document. Replays of a committed `batchId` return
    * the persisted report.
    */
  def processBatch(batch: DataFrame, indexPath: String,
      batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    // the cap state is full per epoch (each copy supersedes the last);
    // window/doc deltas stay — their union IS the index
    StreamingState.fold(spark, indexPath, Format, batchId,
        Map("spans" -> spansSchema), fullState = Seq("caps")) {
      val existing = readIndex(spark, indexPath)
      val newDocs = batch.select(col("doc_id")).distinct()
        .join(indexedDocs(spark, indexPath), Seq("doc_id"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val fresh = windowRows(batch)
        .join(newDocs, Seq("doc_id"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val step = probe(existing,
        StreamingState.readCurrent(spark, indexPath, "caps", capsSchema), fresh)
      // persisted before anything plans the spans, which then read the
      // cached caps too. No localCheckpoint: the committed index is
      // stable until the epoch's marker, so the span plan materializes
      // exactly once — by the epoch write — against an unmoving listing
      val caps = step.caps.persist(StorageLevel.MEMORY_AND_DISK)
      Map("windows" -> fresh, "docs" -> newDocs, "caps" -> caps,
        "spans" -> step.spans)
    }("spans")
  }

  /** Batch-API convenience: commits under the next free epoch id
    * (re-sent documents stay no-ops via the doc-id anti-join).
    */
  def probeAndUpdate(batch: DataFrame, indexPath: String): DataFrame =
    processBatch(batch, indexPath,
      StreamingState.currentEpoch(batch.sparkSession, indexPath) + 1L)

  /** Compact the window/doc delta log into one copy each and drop the
    * superseded per-drop dirs (crash-safe: see
    * [[StreamingState.checkpointDeltas]]). Markers, span reports, and
    * the cap state stay untouched.
    */
  def compact(spark: SparkSession, indexPath: String): Unit =
    StreamingState.compactDeltas(spark, indexPath, Format,
      Map("windows" -> indexSchema, "docs" -> docsSchema))
}
