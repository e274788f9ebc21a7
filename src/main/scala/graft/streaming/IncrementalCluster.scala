package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental near-dup cluster + survivor state (r12, VERDICT #1 of
  * "What's missing"; r13 delta layout, VERDICT #2): the operator a
  * recurring 100 TB pipeline actually reads after each monthly drop —
  * "which cluster is this document in, and who survives" — maintained
  * ACROSS drops instead of re-running batch t40/t52 over the
  * accumulated corpus.
  *
  * State ([[StreamingState]] append-delta epoch layout, r13): each
  * drop commits only its AFFECTED rows, resolved latest-epoch-wins on
  * read — the r12 layout rewrote the complete duplication-bounded
  * state per drop, a multi-TB read+rewrite per monthly drop at
  * Lee-et-al-level duplication for a fold whose touched set is
  * batch-bounded. Relations:
  *
  *  - `members`   — delta rows (doc_id, label, score, epoch) for every
  *    document of a component touched by this drop's edges. A doc's
  *    CURRENT row is its highest-epoch row; docs never paired stay
  *    implicit singletons (exactly t40's contract), so even the
  *    resolved state is duplication-bounded, never corpus-sized.
  *    Member rows are never deleted — a merge relabels, so the new
  *    row supersedes.
  *  - `survivors` — delta rows (cluster_id, survivor_id, cluster_size,
  *    score, epoch): the affected clusters' fresh elections, plus
  *    TOMBSTONES (null survivor_id) for labels absorbed away by a
  *    merge. Resolution: highest-epoch row per cluster_id, tombstones
  *    dropped.
  *
  * Per drop, [[update]] folds the batch's verified pairs in
  * LOCALLY, in the Spark driver: only components touched by a new edge are
  * re-solved — the new edges plus one (doc → label) star edge per
  * member of an affected component go through a union-find over that
  * change-bounded subgraph; untouched components are NOT read, NOT
  * rewritten, NOT touched. Label correctness is inductive: a state
  * label is its component's min and participates as a node of the
  * local graph, so the merged component's new label is the min over
  * everything it absorbed — identical to batch t40 over the union of
  * all drops' pairs (differentialed on real corpora by
  * tools/DropCheck). The fold collects this drop's pairs, the affected
  * members, their batch scores and their prior survivors — one collect
  * each — and throws, committing nothing, when those rows exceed
  * [[MaxFoldRows]]; the four relations are written from the local
  * rows. Per-drop WRITE cost is O(new pairs + affected members) —
  * change-bounded, spec-pinned by IncrementalClusterSpec's per-epoch
  * row-count test; the per-drop READ floor is one resolution aggregate
  * over the committed deltas (the same one-exchange floor the span/ANN
  * indexes pay), compacted by [[compact]] on the usual lazy cadence.
  *
  * Each epoch also publishes the drop's change report atomically with
  * the state (the VERDICT #2 discipline — no crash point can apply
  * the fold and lose the report):
  *
  *  - `label_changes`    — (doc_id, old_label, new_label): docs that
  *    entered a cluster or whose cluster merged (old_label null =
  *    first appearance);
  *  - `survivor_changes` — (cluster_id, old_survivor, new_survivor,
  *    cluster_size, score): affected clusters whose elected survivor
  *    appeared or changed; clusters merged AWAY surface as the
  *    absorbing cluster's row (their members' rows in
  *    `label_changes` carry the relabel).
  *
  * Replays of a committed batch id return the persisted report and
  * touch nothing.
  */
object IncrementalCluster {

  /** On-disk layout version. 1 (r12) = full members/survivors state
    * rewritten per epoch, resolved newest-epoch-only, older copies
    * pruned; 2 (r13) = append-delta rows with an `epoch` column,
    * resolved latest-epoch-wins. A v1 directory read through the v2
    * resolver would silently mis-resolve (no epoch column), so it is
    * a hard error at open time — rebuild by re-running the drops.
    */
  private val FormatVersion = 2

  private val Format = StreamingState.Format("IncrementalCluster state",
    Some(FormatVersion.toString))

  val membersSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("label", LongType, nullable = true),
    StructField("score", DoubleType, nullable = true)))

  val survivorsSchema: StructType = StructType(Seq(
    StructField("cluster_id", LongType, nullable = true),
    StructField("survivor_id", LongType, nullable = true),
    StructField("cluster_size", LongType, nullable = true),
    StructField("score", DoubleType, nullable = true)))

  private val membersDeltaSchema: StructType =
    StructType(membersSchema.fields :+ StructField("epoch", LongType, nullable = true))

  private val survivorsDeltaSchema: StructType =
    StructType(survivorsSchema.fields :+ StructField("epoch", LongType, nullable = true))

  val labelChangesSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = true),
    StructField("old_label", LongType, nullable = true),
    StructField("new_label", LongType, nullable = true)))

  val survivorChangesSchema: StructType = StructType(Seq(
    StructField("cluster_id", LongType, nullable = true),
    StructField("old_survivor", LongType, nullable = true),
    StructField("new_survivor", LongType, nullable = true),
    StructField("cluster_size", LongType, nullable = true),
    StructField("score", DoubleType, nullable = true)))

  /** The drop's change report, read back from the committed epoch. */
  final case class Changes(labelChanges: DataFrame, survivorChanges: DataFrame)

  /** Latest-epoch-wins resolution: one row per key — the one from the
    * highest committed epoch (a key appears at most once per epoch, so
    * the struct max is decided by its leading epoch field alone).
    */
  private def resolve(deltas: DataFrame, key: String,
      payload: Seq[String]): DataFrame =
    resolveWithEpoch(deltas, key, payload).drop("epoch")

  /** [[resolve]], keeping each winning row's epoch — the compacted-copy
    * form: rows written back into the delta log must still carry the
    * epoch they won at, so resolution over (compacted copy ∪ newer
    * deltas) is unchanged.
    */
  private def resolveWithEpoch(deltas: DataFrame, key: String,
      payload: Seq[String]): DataFrame = {
    val packed = struct((col("epoch") +: payload.map(col)): _*)
    deltas.groupBy(col(key)).agg(max(packed).as("__cur"))
      .select(col(key) +: (payload :+ "epoch").map(f => col(s"__cur.$f").as(f)): _*)
  }

  /** Current (doc_id, label, score) state — every doc ever paired. */
  def readMembers(spark: SparkSession, path: String): DataFrame =
    resolve(StreamingState.read(spark, path, Format, "members", membersDeltaSchema),
      "doc_id", Seq("label", "score"))

  /** Current per-cluster survivor election (tombstoned clusters —
    * labels absorbed by a merge — resolve away).
    */
  def readSurvivors(spark: SparkSession, path: String): DataFrame =
    resolve(StreamingState.read(spark, path, Format, "survivors", survivorsDeltaSchema),
      "cluster_id", Seq("survivor_id", "cluster_size", "score"))
      .filter(col("survivor_id").isNotNull)

  /** t52's quality score for a (doc_id, text) batch — the per-doc
    * election key, computed once per document at arrival (text is
    * immutable, so the stored score never goes stale).
    */
  def docScores(docs: DataFrame): DataFrame =
    graft.operators.TextOps.withQualityScore(
        docs.withColumn("words", graft.operators.TextOps.wordsCol))
      .select(col("doc_id"), col("score"))

  /** The (doc_id, score) endpoints of a pair report — the election
    * scores the IncrementalDedup report carries for both sides of each
    * pair, one row per distinct (doc_id, score). graft-drop and DropCheck
    * fold a drop's pairs as `update(…, pairs, endpointScores(pairs))`.
    */
  def endpointScores(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("doc_id"), col("score_a").as("score"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"), col("score_b").as("score")))
      .distinct()

  /** Most rows one [[update]] collects into the Spark driver: this drop's
    * pairs, the affected members, the batch scores and the prior
    * survivors, together. A fold above it throws before anything is
    * committed; there is no distributed fallback.
    */
  val MaxFoldRows: Int = 1000000

  /** Fold one drop's verified near-dup pairs into the persisted
    * cluster state and publish the change-bounded delta + change
    * report as one atomic epoch.
    *
    * @param pairs  this drop's verified pairs — (doc_a, doc_b), the
    *               IncrementalDedup report (extra columns ignored)
    * @param scores (doc_id, score) for this drop's documents (see
    *               [[docScores]]); previously-stored scores win for
    *               re-sent ids (same text → same score)
    */
  def update(spark: SparkSession, path: String, batchId: Long,
      pairs: DataFrame, scores: DataFrame): Changes = {
    val changes = StreamingState.fold(spark, path, Format, batchId,
        Map("label_changes" -> labelChangesSchema,
          "survivor_changes" -> survivorChangesSchema)) {
      var collected = 0L
      def take(what: String, df: DataFrame): Array[Row] = {
        val rows = df.collect()
        collected += rows.length
        if (collected > MaxFoldRows)
          throw new IllegalStateException(
            s"IncrementalCluster fold of batch $batchId collected $collected rows " +
            s"(through the $what), above the cap MaxFoldRows = " +
            s"$MaxFoldRows; nothing was committed")
        rows
      }
      def ids(name: String, xs: Iterable[Long]): DataFrame = broadcast(
        spark.createDataFrame(
          java.util.Arrays.asList(xs.toSeq.map(Row(_)): _*),
          StructType(Seq(StructField(name, LongType, nullable = false)))))
      def optDouble(r: Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))

      val edges = take("pairs", pairs.select(col("doc_a"), col("doc_b")))
        .map(r => (r.getLong(0), r.getLong(1)))
      val touched = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      // components holding any endpoint of a new edge, as (doc_id, label,
      // score); everything else is carried implicitly by the delta
      // layout — the fold neither reads nor rewrites an unaffected cluster
      val prev: Map[Long, (Long, Option[Double])] =
        if (touched.isEmpty) Map.empty
        else {
          val members = readMembers(spark, path)
          val affLabels = members.join(ids("doc_id", touched), Seq("doc_id"), "left_semi")
            .select(col("label"))
          take("affected members", members.join(affLabels, Seq("label"), "left_semi")
              .select(col("doc_id"), col("label"), col("score")))
            .map(r => r.getLong(0) -> ((r.getLong(1), optDouble(r, 2)))).toMap
        }
      val affLabels = prev.values.map(_._1).toSet

      // union-find on the change-bounded subgraph: the new edges plus a
      // (doc → label) star edge per affected member. A state label is
      // its component's min and is a node here, so every root — the
      // smaller id of each union — is the min over all it absorbed:
      // batch t40's label over the union of every drop's pairs
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) {
          val up = parent(r)
          parent(r) = parent.getOrElse(up, up) // path halving
          r = up
        }
        r
      }
      def union(a: Long, b: Long): Unit = {
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.foreach { case (a, b) => if (a != b) union(a, b) }
      prev.foreach { case (d, (l, _)) => if (d != l) union(d, l) }
      val nodes = parent.keys.toSeq.sorted

      // score every relabeled doc: stored score wins, batch score covers
      // first appearances (max per doc — a duplicate (doc_id, score) row
      // must not decide anything)
      val batchScore: Map[Long, Option[Double]] =
        if (nodes.isEmpty) Map.empty
        else take("batch scores", scores.join(ids("doc_id", nodes), Seq("doc_id"), "left_semi")
            .groupBy(col("doc_id")).agg(max(col("score")).as("score")))
          .map(r => r.getLong(0) -> optDouble(r, 1)).toMap
      val prevSurvivor: Map[Long, Long] =
        if (nodes.isEmpty) Map.empty
        else take("prior survivors", readSurvivors(spark, path)
            .join(ids("cluster_id", nodes), Seq("cluster_id"), "left_semi")
            .select(col("cluster_id"), col("survivor_id")))
          .map(r => r.getLong(0) -> r.getLong(1)).toMap

      val newAffM = nodes.map { d =>
        (d, find(d), prev.get(d).flatMap(_._2).orElse(batchScore.getOrElse(d, None)))
      }
      // election: highest score (null lowest, NaN highest, as Spark orders
      // doubles), ties to the lower doc id
      def better(a: (Long, Option[Double]), b: (Long, Option[Double])): Boolean = {
        val c = (a._2, b._2) match {
          case (None, None)       => 0
          case (None, _)          => -1
          case (_, None)          => 1
          case (Some(x), Some(y)) => if (x == y) 0 else java.lang.Double.compare(x, y)
        }
        c > 0 || (c == 0 && a._1 < b._1)
      }
      val affSurv = newAffM.groupBy(_._2).toSeq.sortBy(_._1).map { case (label, ms) =>
        val best = ms.map(m => (m._1, m._3)).reduce((a, b) => if (better(b, a)) b else a)
        (label, best._1, ms.size.toLong, best._2)
      }
      // labels absorbed by a merge no longer name a cluster: tombstone
      // them so the resolved survivor view drops their stale election
      val tombstones = affLabels.diff(affSurv.map(_._1).toSet).toSeq.sorted

      def rel(rows: Seq[Row], schema: StructType): DataFrame =
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
      def boxed(v: Option[Double]): Any = v.map(Double.box).orNull
      Map(
        "members" -> rel(newAffM.map { case (d, l, sc) =>
          Row(d, l, boxed(sc), batchId) }, membersDeltaSchema),
        "survivors" -> rel(
          affSurv.map { case (c, sv, n, sc) => Row(c, sv, n, boxed(sc), batchId) } ++
            tombstones.map(c => Row(c, null, null, null, batchId)),
          survivorsDeltaSchema),
        "label_changes" -> rel(newAffM.collect {
          case (d, l, _) if !prev.get(d).map(_._1).contains(l) =>
            Row(d, prev.get(d).map(p => Long.box(p._1)).orNull, l)
        }, labelChangesSchema),
        "survivor_changes" -> rel(affSurv.collect {
          case (c, sv, n, sc) if !prevSurvivor.get(c).contains(sv) =>
            Row(c, prevSurvivor.get(c).map(Long.box).orNull, sv, n, boxed(sc))
        }, survivorChangesSchema))
    }
    Changes(changes("label_changes"), changes("survivor_changes"))
  }

  /** Compact the member/survivor delta logs into their RESOLVED
    * latest-epoch-wins rows (r14, VERDICT #1) and drop the superseded
    * per-drop dirs (crash-safe: see
    * [[StreamingState.checkpointDeltas]]). Epoch markers and change
    * reports stay, so replay detection and report reads keep working.
    *
    * The r13 compact rewrote the delta union VERBATIM — every
    * superseded relabel and tombstone row included — so compacted state
    * grew with the pipeline's lifetime churn, never shrank. Now the
    * compacted copy holds exactly one row per CURRENT doc (members) /
    * one row per LIVE cluster (survivors, tombstones physically
    * dropped): state size tracks current membership. Resolution over
    * (compacted copy ∪ newer deltas) is unchanged — the winning rows
    * keep the epoch they won at, and a dropped tombstone can never
    * matter because an absorbed label (its component's min doc_id) can
    * only keep shrinking, so a tombstoned cluster_id never names a
    * cluster again.
    */
  def compact(spark: SparkSession, path: String): Unit =
    StreamingState.compactDeltas(spark, path, Format,
      Map("members" -> membersDeltaSchema, "survivors" -> survivorsDeltaSchema),
      fold = {
        case ("members", df) =>
          resolveWithEpoch(df, "doc_id", Seq("label", "score"))
        case ("survivors", df) =>
          resolveWithEpoch(df, "cluster_id",
            Seq("survivor_id", "cluster_size", "score"))
            .filter(col("survivor_id").isNotNull)
        case (_, df) => df
      })
}
