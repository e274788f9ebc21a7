package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, explode, expr, lit}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{IncrementalDedup, IncrementalSpanIndex, StreamingState}

/** r12 crash-consistency of the incremental indexes (VERDICT #2) and
  * the folded df-cap state (VERDICT #5 / r11 ADVICE medium).
  *
  * The r11 layout appended the index inside probeAndUpdate and wrote
  * the report AFTER, so a crash between the two lost the batch's
  * pairs/spans forever (the replay anti-joined away on the
  * now-indexed doc ids), and a crash MID-append left some of a doc's
  * windows on disk with the rest never indexed. Under the epoch
  * layout both windows are closed: delta + report publish in ONE
  * atomic marker, replays of a committed batch return the persisted
  * report, and orphan (unmarked) epoch dirs are invisible and simply
  * overwritten by the retry.
  */
class IncrementalCommitSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("index").toString

  private val quote = (1 to 60).map(i => s"q$i").mkString(" ")
  private val filler1 = (1 to 60).map(i => s"f$i").mkString(" ")
  private val filler3 = (1 to 10).map(i => s"z$i").mkString(" ")

  test("span index: crash after commit, before report copy — replay surfaces the spans exactly once") {
    import spark.implicits._
    val idx = tmp("crash_spans")
    val drop1 = Seq((1L, s"$filler1 $quote")).toDF("doc_id", "text")
    assert(IncrementalSpanIndex.processBatch(drop1, idx, 0L).count() === 0)

    // batch 1 quotes doc 1; the driver "crashes" after processBatch
    // (epoch committed) but BEFORE copying the report — under r11 the
    // spans were gone forever at this point
    val drop2 = Seq((3L, s"$filler3 $quote")).toDF("doc_id", "text")
    val first = IncrementalSpanIndex.processBatch(drop2, idx, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(first === Set((1L, 3L, 61L, 11L, 60L)))

    // the streaming retry re-runs batch 1 with the same id: it must
    // return the PERSISTED report — identical rows, not empty — and
    // append nothing to the index
    val before = IncrementalSpanIndex.readIndex(spark, idx).count()
    val replay = IncrementalSpanIndex.processBatch(drop2, idx, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(replay === first)
    assert(IncrementalSpanIndex.readIndex(spark, idx).count() === before)

    // the driver's per-batch report copy is overwrite-idempotent: two
    // copies of the replayed batch land as ONE set of rows
    replaySetCopy(idx, first)
  }

  private def replaySetCopy(idx: String,
      expected: Set[(Long, Long, Long, Long, Long)]): Unit = {
    val reports = s"$idx-reports"
    val spans = IncrementalSpanIndex.processBatch(
      { import spark.implicits._
        Seq((3L, s"$filler3 $quote")).toDF("doc_id", "text") }, idx, 1L)
    spans.write.mode("overwrite").parquet(s"$reports/batch=1")
    spans.write.mode("overwrite").parquet(s"$reports/batch=1")
    val copied = spark.read.parquet(reports)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("start_a"), r.getAs[Long]("start_b"),
        r.getAs[Long]("span_len"))).toSet
    assert(copied === expected)
  }

  test("span index: crash mid-commit (orphan epoch, no marker) — retry repairs, nothing double-indexed") {
    import spark.implicits._
    val idx = tmp("crash_partial")
    val drop1 = Seq((1L, s"$filler1 $quote")).toDF("doc_id", "text")
    IncrementalSpanIndex.processBatch(drop1, idx, 0L)

    // simulate a crash MID-epoch-write for batch 1: some of doc 3's
    // windows are on disk but the marker was never created (the r11
    // ADVICE crash class: a partial parquet append)
    val drop2 = Seq((3L, s"$filler3 $quote")).toDF("doc_id", "text")
    IncrementalSpanIndex.windowRows(drop2.limit(1))
      .write.parquet(StreamingState.epochRel(idx, 1L, "windows"))
    // the orphan is invisible: committed readers see only epoch 0
    assert(IncrementalSpanIndex.readIndex(spark, idx)
      .select("doc_id").distinct().count() === 1)

    // the retry of batch 1 overwrites the orphan and commits fully:
    // the span IS reported (r11 would have anti-joined doc 3 away) and
    // doc 3's windows exist exactly once
    val spans = IncrementalSpanIndex.processBatch(drop2, idx, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(spans === Set((1L, 3L, 60L)))
    val idxRows = IncrementalSpanIndex.readIndex(spark, idx)
    assert(idxRows.count() === idxRows.select("doc_id", "pos").distinct().count())
  }

  test("a crash during the VERY FIRST epoch write recovers instead of reading as a legacy index") {
    import spark.implicits._
    val idx = tmp("crash_first")
    // simulate: batch 0 crashed after writing some windows but before
    // any marker — and, in this earliest window, possibly before the
    // commits/ dir existed at all
    val drop = Seq((1L, s"$filler1 $quote"), (3L, s"$filler3 $quote"))
      .toDF("doc_id", "text")
    IncrementalSpanIndex.windowRows(drop.limit(1))
      .write.parquet(StreamingState.epochRel(idx, 0L, "windows"))
    // the retry must NOT be refused as a pre-epoch-layout index once
    // the log dir exists (commitAppend creates it before any write);
    // emulate that ordering for the legacy simulation too
    StreamingState.fsFor(spark, idx)
      .mkdirs(new org.apache.hadoop.fs.Path(s"$idx/commits"))
    val spans = IncrementalSpanIndex.processBatch(drop, idx, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(spans === Set((1L, 3L, 60L)))
    val rows = IncrementalSpanIndex.readIndex(spark, idx)
    assert(rows.count() === rows.select("doc_id", "pos").distinct().count())
  }

  test("dedup index: replay of a committed batch returns the persisted pairs, appends nothing") {
    import spark.implicits._
    val idx = tmp("crash_pairs")
    val textA = "alpha beta gamma delta epsilon zeta eta theta"
    IncrementalDedup.processBatch(
      Seq((1L, textA)).toDF("doc_id", "text"), idx, 0L)
    val first = IncrementalDedup.processBatch(
      Seq((2L, textA)).toDF("doc_id", "text"), idx, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(first === Set((1L, 2L)))
    val replay = IncrementalDedup.processBatch(
      Seq((2L, textA)).toDF("doc_id", "text"), idx, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replay === first)
    assert(IncrementalDedup.readIndex(spark, idx).count() === 2)
  }

  test("compaction: one copy replaces the delta log, view unchanged, later drops and replays still work") {
    import spark.implicits._
    val idx = tmp("compact_spans")
    val drop1 = Seq((1L, s"$filler1 $quote")).toDF("doc_id", "text")
    val drop2 = Seq((2L, (1 to 80).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    IncrementalSpanIndex.processBatch(drop1, idx, 0L)
    val spans2 = IncrementalSpanIndex.processBatch(drop2, idx, 1L)
    assert(spans2.count() === 0)

    val before = IncrementalSpanIndex.readIndex(spark, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    IncrementalSpanIndex.compact(spark, idx)
    val after = IncrementalSpanIndex.readIndex(spark, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after === before, "compaction changed the committed view")
    // the superseded window delta dirs are gone; markers stay
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(StreamingState.epochRel(idx, 0L, "windows"))))
    assert(StreamingState.isCommitted(spark, idx, 0L) &&
      StreamingState.isCommitted(spark, idx, 1L))
    // a replay of a pre-compaction batch still resolves its report
    assert(IncrementalSpanIndex.processBatch(drop2, idx, 1L).count() === 0)
    assert(IncrementalSpanIndex.readIndex(spark, idx).count() === before.size)

    // a post-compaction drop still matches doc 1's pre-compaction quote
    val drop3 = Seq((5L, s"$filler3 $quote")).toDF("doc_id", "text")
    val spans3 = IncrementalSpanIndex.processBatch(drop3, idx, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(spans3 === Set((1L, 5L, 60L)),
      s"cross-compaction quote not found: $spans3")

    // a second compaction folds the new delta in and drops the old copy
    IncrementalSpanIndex.compact(spark, idx)
    assert(IncrementalSpanIndex.readIndex(spark, idx)
      .select("doc_id").distinct().count() === 3)
    // crash-before-marker equivalent: an orphan compact dir (no
    // checkpoint marker) must be invisible — simulated by the fact the
    // first compaction's dir was vacuumed and readers now resolve only
    // the newest checkpoint
  }

  test("cluster delta state: orphan epoch invisible, retry repairs; tombstones resolve merged-away clusters") {
    import spark.implicits._
    import graft.streaming.IncrementalCluster
    val path = tmp("crash_cluster")
    IncrementalCluster.update(spark, path, 0L,
      Seq((1L, 2L), (7L, 8L)).toDF("doc_a", "doc_b"),
      Seq(1L -> 0.5, 2L -> 0.9, 7L -> 0.7, 8L -> 0.6).toDF("doc_id", "score"))

    // crash mid-epoch-1: a partial members delta lands with NO marker —
    // the orphan must be invisible to resolution
    Seq((99L, 99L, 0.1, 1L)).toDF("doc_id", "label", "score", "epoch")
      .write.parquet(StreamingState.epochRel(path, 1L, "members"))
    assert(IncrementalCluster.readMembers(spark, path).count() === 4)

    // the retry of batch 1 (bridging the two clusters) overwrites the
    // orphan and commits; resolution is latest-epoch-wins
    IncrementalCluster.update(spark, path, 1L,
      Seq((2L, 7L)).toDF("doc_a", "doc_b"),
      Seq.empty[(Long, Double)].toDF("doc_id", "score"))
    val members = IncrementalCluster.readMembers(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(members === Map(1L -> 1L, 2L -> 1L, 7L -> 1L, 8L -> 1L))
    assert(!members.contains(99L), "orphan row leaked into resolution")

    // the absorbed cluster 7 was tombstoned in epoch 1 (null survivor
    // row on disk) and resolves AWAY; only cluster 1 survives
    val surv = IncrementalCluster.readSurvivors(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(surv === Set((1L, 2L)), s"survivors: $surv") // doc 2: score 0.9
    val epoch1Surv = spark.read
      .parquet(StreamingState.epochRel(path, 1L, "survivors"))
    assert(epoch1Surv.filter(col("survivor_id").isNull)
      .collect().map(_.getLong(0)).toSeq === Seq(7L),
      "merged-away label 7 must carry a tombstone row in its epoch")

    // replay of committed batch 1: persisted report back, state untouched
    val replay = IncrementalCluster.update(spark, path, 1L,
      Seq((2L, 7L)).toDF("doc_a", "doc_b"),
      Seq.empty[(Long, Double)].toDF("doc_id", "score"))
    assert(replay.labelChanges.collect().map(_.getLong(0)).sorted.toSeq
      === Seq(7L, 8L))
    assert(IncrementalCluster.readMembers(spark, path).count() === 4)
  }

  test("quality state: replay returns the persisted report; orphan epoch invisible") {
    import spark.implicits._
    import graft.streaming.IncrementalQuality
    val path = tmp("crash_quality")
    val batch0 = Seq((1L, "a sufficiently long first document text"),
      (2L, "short")).toDF("doc_id", "text")
    val rep0 = IncrementalQuality.processBatch(batch0, path, 0L)
      .collect().map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations"))
      .toMap
    assert(rep0("short_doc") === 1L && rep0("doc_id_not_null") === 0L)

    // crash mid-epoch-1: report rows on disk, no marker — invisible
    Seq((1L, "ghost_rule", 9L, false)).toDF("epoch", "rule", "n_violations", "pass")
      .write.parquet(StreamingState.epochRel(path, 1L, "report"))
    assert(IncrementalQuality.readTrend(spark, path)
      .select("epoch").distinct().count() === 1)

    // commit batch 1, then replay it with a DIFFERENT frame: the
    // persisted counts come back, not a recomputation
    val batch1 = Seq((3L, "another long enough document here"))
      .toDF("doc_id", "text")
    val rep1 = IncrementalQuality.processBatch(batch1, path, 1L)
      .collect().map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations"))
      .toMap
    val replay = IncrementalQuality.processBatch(
        Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"), path, 1L)
      .collect().map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations"))
      .toMap
    assert(replay === rep1, "replay must return the persisted report")
    assert(replay("text_not_null") === 0L)
    val totals = IncrementalQuality.readTotals(spark, path)
      .collect().map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations"))
      .toMap
    assert(totals("short_doc") === 1L)
    assert(!totals.contains("ghost_rule"), "orphan epoch leaked into totals")
  }

  // ---- VERDICT #5: folded df-cap state ----

  test("folded caps equal the from-scratch aggregate across randomized multi-drop splits") {
    import spark.implicits._
    // overlapping phrases so window hashes repeat across docs and
    // within docs (exercising both docf and maxk), incl. one doc
    // breaching the occurrence cap
    val phrase = (1 to 20).map(i => s"p$i").mkString(" ")
    val docs: Seq[(Long, String)] =
      (0L until 24L).map { i =>
        val own = (1 to 30).map(j => s"d${i}w$j").mkString(" ")
        (i, if (i % 3 == 0) s"$own $phrase" else s"$phrase $own $phrase")
      } :+ (99L, Seq.fill(25)(phrase).mkString(" "))

    for (seed <- Seq(7, 23)) {
      val rnd = new scala.util.Random(seed)
      val idx = tmp(s"caps_fold_$seed")
      val assigned = docs.map(d => (rnd.nextInt(3), d))
      for (b <- 0 to 2) {
        val part = assigned.filter(_._1 == b).map(_._2)
        IncrementalSpanIndex.processBatch(
          part.toDF("doc_id", "text"), idx, b.toLong)
      }
      val folded = StreamingState.readCurrent(spark, idx, "caps",
          IncrementalSpanIndex.capsSchema)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val scratch = IncrementalSpanIndex.windowRows(docs.toDF("doc_id", "text"))
        .groupBy("h64", "doc_id").count()
        .groupBy("h64")
        .agg(count(lit(1)).as("docf"),
          org.apache.spark.sql.functions.max("count").as("maxk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(folded === scratch, s"seed $seed: fold diverged from recompute")
    }
  }

  test("ANN occupancy fold equals the from-scratch aggregate and never scans the vectors relation") {
    import spark.implicits._
    import graft.streaming.IncrementalAnn
    val cfg = IncrementalAnn.Config()
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, Seq(math.sin(i * 1.7) + 1.5, math.cos(i * 0.9), (i % 7).toDouble / 7,
        math.sin(i * 0.31))) }.toDF("vec_id", "v")
    val idx = java.nio.file.Files.createTempDirectory("ann_occ")
      .resolve("index").toString
    // three drops; fold state after the last must equal a from-scratch
    // aggregate over ALL indexed vectors' band rows
    val drops = Seq((0L until 16L), (16L until 24L), (24L until 29L))
    drops.zipWithIndex.foreach { case (ids, b) =>
      IncrementalAnn.processBatch(vecs(ids), idx, b.toLong, cfg)
    }
    val folded = StreamingState.readCurrent(spark, s"$idx/state", "occ",
        IncrementalAnn.occSchema)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val scratch = IncrementalAnn.readIndex(spark, idx)
      .select(col("vec_id"), col("bucket"),
        explode(expr(s"sequence(0, ${cfg.bands - 1})")).as("band_id"))
      .withColumn("sig", expr(
        s"shiftright(bucket, ${cfg.bits} * band_id) & ${(1 << cfg.bits) - 1}"))
      .groupBy(col("band_id").cast("int").as("band_id"), col("sig"))
      .agg(count(lit(1)).as("bn"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(folded === scratch, "occupancy fold diverged from recompute")
    // and the fold plan reads only the persisted occ state, never the
    // vector deltas (fresh arrives in-memory from the batch)
    val freshB = Seq((100L, 123L), (101L, 456L)).toDF("vec_id", "bucket")
    val occ = IncrementalAnn.foldedOcc(spark, idx, freshB, cfg)
    val scanned = occ.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten
    assert(scanned.exists(_.contains("/occ")), s"must read occ state: $scanned")
    assert(!scanned.exists(_.contains("/vectors")),
      s"fold must not re-aggregate the vector deltas, scanned: $scanned")
  }

  test("the cap fold never scans the window index (the per-drop full-index re-aggregation is gone)") {
    import spark.implicits._
    val idx = tmp("caps_plan")
    IncrementalSpanIndex.processBatch(
      Seq((1L, s"$filler1 $quote")).toDF("doc_id", "text"), idx, 0L)
    val fresh = IncrementalSpanIndex.windowRows(
      Seq((2L, s"$filler3 $quote")).toDF("doc_id", "text"))
    val caps = IncrementalSpanIndex.probe(IncrementalSpanIndex.readIndex(spark, idx),
      StreamingState.readCurrent(spark, idx, "caps", IncrementalSpanIndex.capsSchema),
      fresh).caps
    val scanned = caps.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten
    assert(scanned.exists(_.contains("/caps")),
      s"fold must read the persisted cap state, scanned: $scanned")
    assert(!scanned.exists(_.contains("/windows")),
      s"fold must not re-aggregate the token-sized window index, scanned: $scanned")
  }
}
