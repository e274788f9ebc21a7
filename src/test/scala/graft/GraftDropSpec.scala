package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.app.GraftDrop

/** End-to-end contract of the `graft-drop` one-command driver: two
  * successive drops into the same folder, where the second drop's
  * near-dup pairs and ANN neighbors must surface from the PERSISTED
  * indexes alone (the first drop's text is never re-read — the
  * file-source checkpoint skips its files), and a replay run with no
  * new files appends nothing.
  */
class GraftDropSpec extends AnyFunSuite {

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

  private def writeDrop(dir: String, name: String, docs: Seq[(Long, String)]): Unit = {
    val lines = docs.map { case (id, text) =>
      s"""{"doc_id": $id, "text": "$text"}"""
    }.mkString("\n")
    Files.write(Paths.get(dir, name), lines.getBytes(UTF_8))
  }

  test("two drops: cross-drop dups and neighbors via persisted indexes, replay no-op") {
    val in = Files.createTempDirectory("drop_in").toString
    val index = Files.createTempDirectory("drop_index").toString

    // drop 1: 16 ANN plane-seeders + a distinctive document
    val drop1 = (0L until 16L).map(i =>
      (i, s"filler document number $i with words w$i w${i * 3 % 7} w${i % 5}")) :+
      (50L, "quarterly earnings report for the acme corporation fiscal year")
    writeDrop(in, "drop1.json", drop1)
    GraftDrop.run(spark, in, index)

    val pairs1 = spark.read.parquet(s"$index/reports/pairs").count()
    assert(pairs1 == 0, s"drop 1 has no near-dups, got $pairs1 pairs")

    // drop 2: an exact text copy of doc 3 (dedup must pair them), a
    // shuffled-word copy of doc 50 (identical bag-of-words → identical
    // stub embedding, ANN must rank it first), and an unrelated doc
    val drop2 = Seq(
      (201L, "filler document number 3 with words w3 w2 w3"),
      (200L, "acme corporation fiscal report quarterly earnings the for year"),
      (202L, "completely unrelated gardening tips about tomato seedlings"))
    writeDrop(in, "drop2.json", drop2)
    GraftDrop.run(spark, in, index)

    val pairs = spark.read.parquet(s"$index/reports/pairs").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard")))
    assert(pairs.exists { case (a, b, j) => a == 3L && b == 201L && j == 1.0 },
      s"cross-drop exact dup (3, 201) not found: ${pairs.mkString(", ")}")

    val nbrs = spark.read.parquet(s"$index/reports/neighbors").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
    val hit = nbrs.find { case (q, rank, _, _) => q == 200L && rank == 1 }
    assert(hit.exists { case (_, _, n, c) => n == 50L && math.abs(c - 1.0) < 1e-6 },
      s"expected (200, rank 1) -> 50 @ ~1.0, got ${nbrs.mkString(", ")}")

    // r12: the cluster state folded the cross-drop pair — both copies
    // carry label 3 (component min), the tie on identical text breaks
    // to the lower doc id as survivor, and the drop's relabel report
    // landed under reports/
    val members = graft.streaming.IncrementalCluster
      .readMembers(spark, s"$index/clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(members === Map(3L -> 3L, 201L -> 3L), s"members: $members")
    val surv = graft.streaming.IncrementalCluster
      .readSurvivors(spark, s"$index/clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(surv === Set((3L, 3L, 2L)), s"survivors: $surv")
    val relabels = spark.read.parquet(s"$index/reports/cluster_labels")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("new_label"))).toSet
    assert(relabels === Set((3L, 3L), (201L, 3L)), s"relabels: $relabels")

    // both drops' documents are in the persisted indexes exactly once
    assert(graft.streaming.IncrementalDedup
      .readIndex(spark, s"$index/dedup").count() == drop1.size + drop2.size)
    assert(graft.streaming.IncrementalAnn
      .readIndex(spark, s"$index/ann").count() == drop1.size + drop2.size)

    // replay with no new files: nothing is appended anywhere
    val (np, nn) = (spark.read.parquet(s"$index/reports/pairs").count(),
      spark.read.parquet(s"$index/reports/neighbors").count())
    GraftDrop.run(spark, in, index)
    assert(spark.read.parquet(s"$index/reports/pairs").count() == np)
    assert(spark.read.parquet(s"$index/reports/neighbors").count() == nn)
    assert(graft.streaming.IncrementalDedup
      .readIndex(spark, s"$index/dedup").count() == drop1.size + drop2.size)

    // r13: the quality trend folded per drop — one report row set and
    // one volume row per epoch, totals additive across drops
    val trend = graft.streaming.IncrementalQuality
      .readTrend(spark, s"$index/quality")
      .collect().map(r => (r.getAs[Long]("epoch"), r.getAs[String]("rule"),
        r.getAs[Long]("n_violations")))
    val epochs = trend.map(_._1).distinct.sorted
    assert(epochs.length == 2, s"one quality epoch per drop: ${epochs.toSeq}")
    assert(trend.count(_._1 == epochs.head)
      == graft.streaming.IncrementalQuality.dropRules.size)
    // every planted doc is well-formed: invariants pass, and the
    // short_doc screen counts the genuinely short filler docs
    val totals = graft.streaming.IncrementalQuality
      .readTotals(spark, s"$index/quality")
      .collect().map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations"))
      .toMap
    assert(totals("doc_id_not_null") == 0L && totals("text_not_null") == 0L &&
      totals("doc_id_unique_in_batch") == 0L, s"invariant totals: $totals")
    assert(totals("text_not_empty") == 0L)
    val profile = graft.streaming.IncrementalQuality
      .readProfile(spark, s"$index/quality")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(profile == Map(0L -> drop1.size.toLong, 1L -> drop2.size.toLong),
      s"profile: $profile")

    // r12: compacting all three delta logs preserves the committed
    // views and the per-batch reports
    graft.streaming.IncrementalDedup.compact(spark, s"$index/dedup")
    graft.streaming.IncrementalSpanIndex.compact(spark, s"$index/spans")
    graft.streaming.IncrementalAnn.compact(spark, s"$index/ann")
    assert(graft.streaming.IncrementalDedup
      .readIndex(spark, s"$index/dedup").count() == drop1.size + drop2.size)
    assert(graft.streaming.IncrementalAnn
      .readIndex(spark, s"$index/ann").count() == drop1.size + drop2.size)
    assert(spark.read.parquet(s"$index/reports/pairs").count() == np)

    // r13: quality state survives replay too — same trend rows after
    // the no-op rerun above, and a direct replayed processBatch
    // resolves to the persisted report
    val replayRep = graft.streaming.IncrementalQuality.processBatch(
      spark.range(1).selectExpr("cast(id as long) as doc_id",
        "'ignored replay text' as text"),
      s"$index/quality", 0L)
    assert(replayRep.count()
      == graft.streaming.IncrementalQuality.dropRules.size.toLong)
    assert(graft.streaming.IncrementalQuality
      .readProfile(spark, s"$index/quality").count() == 2L)
  }

  private def writeSourcedDrop(dir: String, name: String,
      docs: Seq[(Long, String, String)]): Unit = {
    val lines = docs.map { case (id, text, src) =>
      s"""{"doc_id": $id, "text": "$text", "source": "$src"}"""
    }.mkString("\n")
    Files.write(Paths.get(dir, name), lines.getBytes(UTF_8))
  }

  test("pluggable quality rules at the source grain fold across drops (r14)") {
    val in = Files.createTempDirectory("drop_in_rules").toString
    val index = Files.createTempDirectory("drop_index_rules").toString
    // a deployment's own pack, as the --rules file would declare it
    val rules = graft.operators.RulePack.parse(Seq(
      """{"name": "text_present", "predicate": "text IS NULL OR length(text) = 0"}""",
      """{"name": "short_text", "predicate": "length(text) < 30", "severity": "screen"}"""))

    writeSourcedDrop(in, "d1.json", Seq(
      (1L, "this document is comfortably longer than thirty characters", "src_a"),
      (2L, "tiny doc", "src_a"),
      (3L, "another comfortably long document body for source b", "src_b")))
    GraftDrop.run(spark, in, index, qualityRules = rules,
      qualityBy = Seq("source"))
    writeSourcedDrop(in, "d2.json", Seq((4L, "small", "src_a")))
    GraftDrop.run(spark, in, index, qualityRules = rules,
      qualityBy = Seq("source"))

    // trend: rules × sources rows per epoch, scoped and severity-tagged
    val trend = graft.streaming.IncrementalQuality
      .readTrend(spark, s"$index/quality")
      .collect().map(r => ((r.getAs[Long]("epoch"), r.getAs[String]("scope"),
        r.getAs[String]("rule")),
        (r.getAs[String]("severity"), r.getAs[Long]("n_violations"))))
      .toMap
    assert(trend((0L, "src_a", "short_text")) === ("screen", 1L))
    assert(trend((0L, "src_b", "short_text")) === ("screen", 0L))
    assert(trend((0L, "src_a", "text_present")) === ("invariant", 0L))
    assert(trend((1L, "src_a", "short_text")) === ("screen", 1L))
    assert(!trend.contains((1L, "src_b", "short_text")),
      "drop 2 has no src_b rows — its scope must not appear in epoch 1")
    // totals fold additively per scope
    val totals = graft.streaming.IncrementalQuality
      .readTotals(spark, s"$index/quality")
      .collect().map(r => (r.getAs[String]("scope"), r.getAs[String]("rule"))
        -> r.getAs[Long]("n_violations")).toMap
    assert(totals(("src_a", "short_text")) === 2L, s"totals: $totals")
    assert(totals(("src_b", "short_text")) === 0L)
    assert(totals(("src_a", "text_present")) === 0L)
    // the extra source column never leaked into the persisted indexes
    assert(!graft.streaming.IncrementalDedup
      .readIndex(spark, s"$index/dedup").columns.contains("source"))

    // --report-dir: the CSV/HTML dashboard composes off the folded
    // state (rules × scopes × epochs rows, zero corpus passes)
    val rep = Files.createTempDirectory("drop_report").toString
    GraftDrop.writeQualityReport(spark, index, rep)
    val trendCsv = Files.readString(Paths.get(rep, "trend.csv"))
    assert(trendCsv.startsWith("epoch,scope,rule,severity,n_violations,pass"))
    assert(trendCsv.contains("0,src_a,short_text,screen,1,false"), trendCsv)
    val totalsCsv = Files.readString(Paths.get(rep, "totals.csv"))
    assert(totalsCsv.contains("src_a,short_text,screen,2,false"), totalsCsv)
    val html = Files.readString(Paths.get(rep, "index.html"))
    assert(html.contains("<td>src_a</td>") && html.contains("Volume profile"))
  }

  test("auto-compaction cadence keeps the delta logs read-bounded without --compact (r14)") {
    val in = Files.createTempDirectory("drop_in_auto").toString
    val index = Files.createTempDirectory("drop_index_auto").toString
    val S = graft.streaming.StreamingState
    def pendingEpochs(root: String): Int = {
      val cp = S.currentCheckpoint(spark, root)
      S.committedEpochs(spark, root).count(_ > cp)
    }
    // six monthly drops, each a separate cron invocation: run + the
    // auto-cadence check the CLI performs (threshold 3)
    for (i <- 0 until 6) {
      writeDrop(in, s"m$i.json", Seq(
        (i * 10L + 1L, s"monthly document alpha of drop $i with body text"),
        (i * 10L + 2L, s"monthly document beta of drop $i with other words")))
      GraftDrop.run(spark, in, index)
      GraftDrop.maybeCompact(spark, index, 3)
      assert(pendingEpochs(s"$index/dedup") < 3,
        s"dedup delta log unbounded at drop $i: ${pendingEpochs(s"$index/dedup")}")
    }
    // compaction actually happened (a checkpoint exists)…
    assert(S.currentCheckpoint(spark, s"$index/dedup") >= 0L)
    assert(S.currentCheckpoint(spark, s"$index/quality") >= 0L)
    // …and every state survived it intact
    assert(graft.streaming.IncrementalDedup
      .readIndex(spark, s"$index/dedup").count() === 12L)
    assert(graft.streaming.IncrementalQuality
      .readProfile(spark, s"$index/quality").count() === 6L)
    assert(graft.streaming.IncrementalQuality
      .readTotals(spark, s"$index/quality")
      .collect().map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations"))
      .toMap.apply("doc_id_not_null") === 0L)
    // a replayed batch id still resolves its persisted report after
    // quality compaction (nothing was vacuumed)
    val replay = graft.streaming.IncrementalQuality.processBatch(
      spark.range(1).selectExpr("cast(id as long) as doc_id",
        "'replay decoy' as text"), s"$index/quality", 0L)
    assert(replay.count()
      === graft.streaming.IncrementalQuality.dropRules.size.toLong)
  }

  test("concurrently waits for every task, then rethrows the first failure") {
    val finished = new java.util.concurrent.atomic.AtomicInteger()
    val e = intercept[IllegalStateException](GraftDrop.concurrently(Seq(
      () => { Thread.sleep(300); finished.incrementAndGet() },
      () => throw new IllegalStateException("chain failed"),
      () => { Thread.sleep(600); finished.incrementAndGet() })))
    assert(e.getMessage === "chain failed")
    assert(finished.get() === 2, "the other tasks must run to completion")
    assert(GraftDrop.concurrently(Seq(() => 1, () => 2, () => 3)) === Seq(1, 2, 3))
  }

  test("a failing chain fails the epoch; the other chains commit; replay completes it") {
    val in = Files.createTempDirectory("drop_in_fail").toString
    val index = Files.createTempDirectory("drop_index_fail").toString
    writeDrop(in, "d1.json", Seq(
      (1L, "quarterly earnings report for the acme corporation fiscal year"),
      (2L, "quarterly earnings report for the acme corporation fiscal year"),
      (3L, "completely unrelated gardening tips about tomato seedlings")))
    // a rule over a column drops do not have: the quality chain throws
    val broken = graft.streaming.IncrementalQuality.dropRules :+
      graft.operators.Expectations.rowRule("broken",
        org.apache.spark.sql.functions.col("no_such_column").isNull)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      GraftDrop.run(spark, in, index, qualityRules = broken))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("no_such_column")),
      causes.map(_.toString).mkString("\n"))
    val S = graft.streaming.StreamingState
    Seq("dedup", "clusters", "spans", "ann/state").foreach { root =>
      assert(S.isCommitted(spark, s"$index/$root", 0L), s"$root not committed")
    }
    assert(!S.isCommitted(spark, s"$index/quality", 0L))
    Seq("pairs", "cluster_labels", "cluster_survivors", "spans", "neighbors").foreach { r =>
      assert(S.exists(spark, s"$index/reports/$r/batch=0"), s"report $r not published")
    }
    assert(spark.read.parquet(s"$index/reports/pairs").count() === 1L)

    // the restart replays batch 0: committed chains resolve to their
    // epochs, the quality chain commits
    GraftDrop.run(spark, in, index)
    assert(S.isCommitted(spark, s"$index/quality", 0L))
    assert(spark.read.parquet(s"$index/reports/pairs").count() === 1L)
    assert(graft.streaming.IncrementalQuality.readProfile(spark, s"$index/quality")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((0L, 3L)))
  }

  test("processDrop runs only a downward-closed set of steps") {
    import spark.implicits._
    val index = Files.createTempDirectory("drop_index_steps").toString
    val b = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      GraftDrop.processDrop(b, index, 0L, steps = Set("dedup_commit", "cluster_reports")))
    assert(e.getMessage.contains("cluster_commit"), e.getMessage)
    val c = GraftDrop.processDrop(b, index, 0L, steps = Set("dedup_commit", "span_commit"))
    assert(c === Map("pairs" -> 1L, "spans" -> 0L))
    val S = graft.streaming.StreamingState
    assert(S.isCommitted(spark, s"$index/dedup", 0L))
    assert(!S.exists(spark, s"$index/reports/pairs"))
    assert(!S.exists(spark, s"$index/clusters"))
    assert(!S.exists(spark, s"$index/ann"))
  }
}
