package graft.app

import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.fic.{FicLookup, FicShredder, FicTransform, FicUpsert}
import graft.llm.{LlmOperators, StubOcrClient, StubStructurizer}
import graft.load.JdbcSink
import graft.quality.Validation
import graft.sources.FicSources

/** CLI drivers mirroring the reference's stage scripts
  * (script_extract / script_transform / script_load — SURVEY §3) plus
  * the fused one-command drivers (process_folder.py:19-67 via
  * pipeline.py:18-58, and transform_folder.py:23-64 — r5, VERDICT #5).
  *
  * Each stage is exposed as a `run(...)` function over DataFrames so
  * the fused drivers compose the stages WITHOUT re-reading the
  * intermediate folders: the extract output frame flows straight into
  * the transform chain and the transformed frame straight into the
  * load, while the per-document JSON side-outputs still land on disk
  * exactly as the staged commands write them.
  */
object Cli {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session factory of every main (CLIs, Bench, Verify, tools).
    * Shuffle partitions follow `SPARK_GRAFT_SHUFFLE`, else the core
    * count (the sf10 point needs partitions sized by the corpus, not the
    * cores). The heartbeat/timeout pair rides out multi-second full-GC
    * pauses on big heaps, which would otherwise expire the one
    * local-mode executor and poison the context mid-run; the values are
    * the ones build.sbt's forked runs pass as JVM properties.
    */
  def session(appName: String): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "30s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  /** JDBC sink URL: `--jdbc` flag, falling back to the
    * `SPARK_GRAFT_JDBC_URL` environment variable — the reference keeps
    * its DB connection in env-driven config (settings.py:17-21), so ops
    * scripts that export the connection once and call stages bare port
    * directly.
    */
  def jdbcUrl(args: Array[String]): String =
    arg(args, "--jdbc").orElse(sys.env.get("SPARK_GRAFT_JDBC_URL"))
      .getOrElse(sys.error("--jdbc or SPARK_GRAFT_JDBC_URL required"))
}

/** Stage 1 — `--folder <pdfs> --out <dir> [--workers N]`:
  * PDF scan → OCR → structurize → one `<stem>_raw.json` per document
  * (the reference's save_json_to_file naming, load.py:52-62), so the
  * stage output folder is directly consumable by GraftTransform.
  * Clients are the deterministic stubs in this zero-egress build; swap
  * real HTTP clients in via LlmOperators' traits.
  */
object GraftExtract {

  /** Extract to a persisted (path, json, error, doc) frame and write
    * the per-document raw JSON side-output. Caller owns unpersist.
    */
  def run(spark: SparkSession, folder: String, out: String,
      workers: Int = 3): DataFrame = {
    val pdfs = FicSources.pdfFolder(spark, folder)
    val texts = LlmOperators.ocr(pdfs, new StubOcrClient(), maxInFlight = workers)
    // persist: the write and both counters must NOT re-run the external
    // OCR/LLM calls (three actions over one lineage = triple API cost)
    val docs = LlmOperators.structurize(texts, new StubStructurizer, maxInFlight = workers)
      .persist(StorageLevel.MEMORY_AND_DISK)
    FicSources.writeRawJson(docs, out)
    RunLog.withLog("graft.extract") { log =>
      val failed = RunLog.logQuarantine(log, docs, "error", "extract")
      val msg = s"extract complete: ${docs.count()} docs, $failed failed"
      log.foreach(l => if (failed > 0) l.warning(msg) else l.info(msg))
      println(msg)
    }
    docs
  }

  def main(args: Array[String]): Unit = {
    val folder = Cli.arg(args, "--folder").getOrElse(sys.error("--folder required"))
    val out = Cli.arg(args, "--out").getOrElse(sys.error("--out required"))
    val workers = Cli.arg(args, "--workers").map(_.toInt).getOrElse(3)
    val spark = Cli.session("graft-extract")
    run(spark, folder, out, workers).unpersist()
    spark.stop()
  }
}

/** Stage 2 — `--input <rawJsonDir> --output <dir> [--fics fics.json]`:
  * raw docs → 8-pass transform → transformed JSON + warnings +
  * skip list from the date-vs-folder check.
  */
object GraftTransform {

  /** The transform stage over an already-loaded raw frame: 8-pass
    * chain, per-document JSON side-output, warning counts, skip list.
    * Returns the transformed frame PERSISTED (the JSON write materializes
    * it); callers unpersist when done.
    */
  def transformAndWrite(raw: DataFrame, lookup: FicLookup, out: String,
      folderName: String): DataFrame = stage(raw, lookup, out, folderName)._1

  /** [[transformAndWrite]], also returning the skip-listed file names.
    * One Spark execution: the tasks that write the per-document JSON
    * also tally the document and warning counts and the skip list
    * ([[Validation.Tally]]), from which the skip-list file and the log
    * lines are written.
    */
  private[app] def stage(raw: DataFrame, lookup: FicLookup, out: String,
      folderName: String): (DataFrame, Seq[String]) = {
    val transformed = FicTransform(raw, lookup)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tally = Validation.Tally(raw.sparkSession)
    FicSources.writePerDocumentJson(transformed, out,
      Validation.Tally.columns(folderName))(tally.add)
    val summary = tally.summary
    Validation.writeSkipList(summary.skipped,
      new java.io.File(out, "skip_list.txt").getPath)
    RunLog.withLog("graft.transform") { log =>
      val msg = s"transform complete: ${summary.docs} docs, " +
        s"${summary.warnings} sum warnings"
      log.foreach { l =>
        if (summary.warnings > 0) l.warning(msg) else l.info(msg)
        // the skip list is already bounded (one line per mismatched
        // document of the batch folder) — mirror it at WARNING level
        summary.skipped.foreach(f => l.warning(s"transform: skip-listed $f"))
      }
      println(msg)
    }
    (transformed, summary.skipped)
  }

  /** The stage over a raw JSON folder: the persisted transformed frame
    * and the skip-listed file names.
    */
  def run(spark: SparkSession, in: String, out: String,
      ficsPath: Option[String]): (DataFrame, Seq[String]) = {
    val lookup = ficsPath.map(FicSources.ficsLookup).getOrElse(FicLookup(Nil))
    val raw = FicSources.rawJsonFolder(spark, in)
    stage(raw, lookup, out, new java.io.File(in).getName)
  }

  def main(args: Array[String]): Unit = {
    val in = Cli.arg(args, "--input").getOrElse(sys.error("--input required"))
    val out = Cli.arg(args, "--output").getOrElse(sys.error("--output required"))
    val spark = Cli.session("graft-transform")
    run(spark, in, out, Cli.arg(args, "--fics"))._1.unpersist()
    spark.stop()
  }
}

/** Stage 3 — `--input <transformedDir> --jdbc <url> [--skip-list f]`:
  * transformed docs → skip-list anti-join → shred → latest-wins upsert
  * into the relational sink.
  */
object GraftLoad {

  /** The load stage over an already-loaded transformed frame (with a
    * `filename` column in the `*_transformed.json` naming): read the
    * existing DB state's latest version per key on the driver
    * (load.py:104-111), shred each document once into its per-document
    * row, then write every table from ONE Spark job whose tasks apply
    * latest-wins per key — per chunk of applied documents one
    * transaction deletes the documents and the versions they supersede,
    * then inserts them. Returns (documents written, parents replaced),
    * counted by the writer per committed chunk.
    */
  def run(spark: SparkSession, docs: DataFrame, url: String): (Long, Long) =
    Using.resource(new Prior(url))(run(spark, docs, url, _))

  /** [[run]] against a snapshot read already started. It is joined
    * before the load job creates any table, so an unreadable snapshot
    * fails the load before anything is written.
    */
  private[app] def run(spark: SparkSession, docs: DataFrame, url: String,
      prior: Prior): (Long, Long) = {
    val (n, nReplaced) = JdbcSink.loadDocuments(FicShredder.nested(docs), url,
      FicShredder.Tables, prior.join())
    val msg = s"load complete: $n documents ($nReplaced replaced)"
    RunLog.withLog("graft.load")(_.foreach(_.info(msg)))
    println(msg)
    (n, nReplaced)
  }

  /** [[JdbcSink.readSnapshot]] on a driver thread of its own, started
    * at construction. The fused drivers start it before their transform,
    * so that on a cold JVM the embedded-Derby boot (0.5–0.8 s) overlaps
    * the transform job instead of following it; the read is plain JDBC,
    * not a Spark execution. [[close]] waits for the read, so a caller
    * that fails before [[join]] leaves no read running.
    */
  private[app] final class Prior(url: String) extends AutoCloseable {
    private var result: Either[Throwable, FicUpsert.Snapshot] = _
    private val thread = new Thread(() => result =
      try Right(JdbcSink.readSnapshot(url)) catch { case e: Throwable => Left(e) },
      "graft-load-snapshot")
    thread.setDaemon(true)
    thread.start()

    /** The snapshot, once read; the read's own error if it failed. */
    def join(): FicUpsert.Snapshot = {
      thread.join()
      result.fold(e => throw e, identity)
    }

    def close(): Unit = thread.join()
  }

  def main(args: Array[String]): Unit = {
    val in = Cli.arg(args, "--input").getOrElse(sys.error("--input required"))
    val url = Cli.jdbcUrl(args)
    val spark = Cli.session("graft-load")
    var docs = FicSources.transformedJsonFolder(spark, in)
    Cli.arg(args, "--skip-list").foreach { sl =>
      docs = docs.join(broadcast(FicSources.skipList(spark, sl)),
        Seq("filename"), "left_anti")
    }
    run(spark, docs, url)
    spark.stop()
  }
}

/** Fused pipeline helpers shared by the one-command drivers. */
private[app] object Fused {

  /** Rename the transform-stage `filename` (`<stem>_raw.json`) to the
    * on-disk name the staged load reads (`<stem>_raw_transformed.json`)
    * — fic_id hashes the filename, so fused and staged runs must agree.
    */
  def toTransformedNaming(transformed: DataFrame): DataFrame =
    transformed.withColumn("filename",
      concat(regexp_replace(col("filename"), "\\.json$", ""),
        lit("_transformed.json")))

  /** T+L tail shared by both fused drivers: the transform stage's
    * skip-listed file names filtered out in memory (equal to the staged
    * `--skip-list` anti-join), then the load stage against the snapshot
    * read the driver started before its transform, all without
    * re-reading the side-outputs.
    */
  def loadTransformed(spark: SparkSession, transformed: DataFrame,
      skipped: Seq[String], url: String, prior: GraftLoad.Prior): (Long, Long) = {
    val kept =
      if (skipped.isEmpty) transformed
      else transformed.filter(!col("filename").isin(skipped: _*))
    GraftLoad.run(spark, toTransformedNaming(kept), url, prior)
  }
}

/** Fused E+T+L — `--folder <pdfs> --work <dir> --jdbc <url>
  * [--fics fics.json] [--workers N]`: the reference's one-command
  * process_folder.py (extract → transform → load per PDF,
  * pipeline.py:18-58) as ONE Spark job. The raw and transformed JSON
  * side-outputs land under `<work>/raw` and `<work>/transformed`
  * exactly as the staged commands write them, but the frames flow
  * between stages in memory — no intermediate re-read, one lineage.
  */
object GraftPipeline {

  def run(spark: SparkSession, folder: String, work: String, url: String,
      ficsPath: Option[String], workers: Int = 3): (Long, Long) =
    Using.resource(new GraftLoad.Prior(url)) { prior =>
      val docs = GraftExtract.run(spark, folder, s"$work/raw", workers)
      val lookup = ficsPath.map(FicSources.ficsLookup).getOrElse(FicLookup(Nil))
      val raw = docs.filter(col("json").isNotNull)
        .withColumn("filename",
          concat(regexp_replace(regexp_extract(col("path"), "([^/]+)$", 1),
            "\\.pdf$", ""), lit("_raw.json")))
        .select(col("doc.*"), col("filename"))
      // date-vs-folder check keys on the SOURCE folder's name (the
      // month-named directory in the reference layout) — the fixed
      // "raw" work subdirectory could never match the date pattern
      val folderName = new java.io.File(folder).getName
      val (transformed, skipped) = GraftTransform
        .stage(raw, lookup, s"$work/transformed", folderName)
      val res = Fused.loadTransformed(spark, transformed, skipped, url, prior)
      transformed.unpersist()
      docs.unpersist()
      res
    }

  def main(args: Array[String]): Unit = {
    val folder = Cli.arg(args, "--folder").getOrElse(sys.error("--folder required"))
    val work = Cli.arg(args, "--work").getOrElse(sys.error("--work required"))
    val url = Cli.jdbcUrl(args)
    val workers = Cli.arg(args, "--workers").map(_.toInt).getOrElse(3)
    val spark = Cli.session("graft-pipeline")
    run(spark, folder, work, url, Cli.arg(args, "--fics"), workers)
    spark.stop()
  }
}

/** One-command monthly-drop driver — `--in <folder> --index <dir>
  * [--threshold 0.5] [--k 3] [--normalize-nfc] [--compact]`: the
  * streaming story as a user-facing
  * entry point (r7, VERDICT #8). The drop folder holds JSON-lines
  * documents `{doc_id, text}`; each invocation streams ONLY the files
  * not seen by a previous run (file-source checkpoint under
  * `<index>/checkpoint`) and, per micro-batch:
  *
  *  1. probes the batch against the persisted MinHash+LSH dedup index
  *     and appends its signatures ([[graft.streaming.IncrementalDedup]]) —
  *     cross-drop near-dups surface from the index alone, no earlier
  *     drop's text is ever re-read;
  *  2. embeds the batch (batched map operator, stub client in this
  *     zero-egress build — swap an [[graft.llm.HttpEmbedder]] in via
  *     `run`) and probes/appends the persisted sign-LSH ANN index
  *     ([[graft.streaming.IncrementalAnn]]);
  *  3. copies the committed files of the verified near-dup pairs,
  *     cluster changes, verbatim spans, and top-k neighbor reports into
  *     per-batch partition dirs under `<index>/reports/` (target
  *     deleted first — idempotent under replay; each batch's rows were
  *     already committed atomically WITH its index delta, so no crash
  *     point loses them);
  *  4. folds the drop's data-quality expectations + volume profile
  *     into `<index>/quality` epoch state
  *     ([[graft.streaming.IncrementalQuality]]) — the feed-health
  *     trend publishes per drop, no batch re-scan.
  *
  * The four index chains (dedup → cluster, span, ann, quality) run
  * concurrently per micro-batch ([[processDrop]]).
  *
  * `Trigger.AvailableNow` drains the pending files then exits, so the
  * command is cron-able per monthly drop while keeping exactly-once
  * file-source semantics; a re-run with no new files appends nothing.
  *
  * The file-source checkpoint records the ABSOLUTE paths of the input
  * files it has seen, so an index only continues at the path it was
  * built at: a moved or copied index fails its next run with Spark's
  * `Wrong basePath`. Continue an index at its original path, or
  * rebuild it from the drop files.
  */
object GraftDrop {

  /** Drop-file schema: (doc_id, text) plus an optional `source`
    * provenance tag (r14) — records without it read as null, and the
    * quality leg can group on it (`--quality-by source`). The index
    * steps project (doc_id, text) explicitly, so extra fields never
    * leak into the persisted signatures/windows/vectors.
    */
  val dropSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType, nullable = true)))

  /** The independent chains of [[processDrop]], each in the order its
    * thread runs its steps: dedup → {pairs report, cluster → cluster
    * reports}; span → spans report; ann → neighbors report; quality.
    * Only the cluster step reads another step's output (dedup's pairs);
    * every report step publishes its own commit step's epoch.
    */
  val chains: Seq[Seq[String]] = Seq(
    Seq("dedup_commit", "pairs_report", "cluster_commit", "cluster_reports"),
    Seq("span_commit", "spans_report"),
    Seq("ann_commit", "neighbors_report"),
    Seq("quality_commit"))

  /** The step names of [[processDrop]] — the kill points tools/CrashCheck
    * cuts between — chain by chain.
    */
  val stepNames: Seq[String] = chains.flatten

  /** The steps each step needs done first. */
  private val stepDeps: Map[String, Seq[String]] = Map(
    "dedup_commit" -> Nil, "pairs_report" -> Seq("dedup_commit"),
    "cluster_commit" -> Seq("dedup_commit"),
    "cluster_reports" -> Seq("cluster_commit"),
    "span_commit" -> Nil, "spans_report" -> Seq("span_commit"),
    "ann_commit" -> Nil, "neighbors_report" -> Seq("ann_commit"),
    "quality_commit" -> Nil)

  /** Run `tasks` at once, one thread each. The threads are created by
    * the calling thread, so they inherit its Spark local properties —
    * inside `foreachBatch`, the streaming query's job group, which
    * `query.stop()` cancels. Waits for every task, then rethrows the
    * first failure with the others attached as suppressed.
    */
  private[graft] def concurrently[T](tasks: Seq[() => T]): Seq[T] = {
    val results = new Array[Any](tasks.size)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      val t = new Thread(() =>
        try results(i) = task()
        catch { case e: Throwable => failures.add(e); () },
        s"graft-drop-${Thread.currentThread().getName}-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    try threads.foreach(_.join())
    catch { case e: InterruptedException =>
      threads.foreach(_.interrupt())
      threads.foreach(_.join())
      throw e
    }
    if (!failures.isEmpty) {
      val first = failures.poll()
      failures.forEach(e => first.addSuppressed(e))
      throw first
    }
    results.toSeq.map(_.asInstanceOf[T])
  }

  /** One drop's composed fold — the exact step graph [[run]] runs per
    * micro-batch. The four [[chains]] run concurrently;
    * within a chain, steps run in order. `steps` is the set of steps to
    * run and must be DOWNWARD-CLOSED (no step without the steps it
    * depends on, `stepDeps`): the streaming run passes all of them, and
    * the kill-anywhere crash differential ([[graft.tools.CrashCheck]])
    * passes a cut of each chain, so it can stop the fold at any
    * reachable state and assert that replaying the batch id converges
    * every state to an uninterrupted run's answer. Each step is
    * individually crash-safe (index commits are marker-published
    * epochs keyed by the batch id; report steps copy the committed
    * epoch's files into per-batch partition dirs, deleting the target
    * first), so the composed contract is: a crash ANYWHERE is repaired
    * by replay.
    *
    * Returns headline counts of the steps that ran, for the drop log
    * line — read from the committed epochs' parquet footers and the
    * quality report, never by re-running a plan.
    */
  def processDrop(b: DataFrame, index: String, id: Long,
      embedder: graft.llm.Embedder = new graft.llm.StubEmbedder(),
      threshold: Double = 0.5,
      cfg: graft.streaming.IncrementalAnn.Config =
        graft.streaming.IncrementalAnn.Config(),
      normalizeNfc: Boolean = false,
      qualityRules: Seq[graft.operators.Expectations.Rule] =
        graft.streaming.IncrementalQuality.dropRules,
      qualityBy: Seq[String] = Nil,
      steps: Set[String] = stepNames.toSet): Map[String, Long] = {
    import graft.streaming.StreamingState.{committedRows, copyCommitted}
    val unknown = steps -- stepNames
    require(unknown.isEmpty, s"unknown drop steps: ${unknown.mkString(", ")}")
    val missing = steps.flatMap(s => stepDeps(s).filterNot(steps)).toSeq.sorted
    require(missing.isEmpty,
      s"drop steps not downward-closed: missing ${missing.mkString(", ")}")
    val spark = b.sparkSession
    val docs = b.select(col("doc_id"), col("text"))
    def report(root: String, rel: String, name: String): Unit =
      copyCommitted(spark, root, id, rel, s"$index/reports/$name/batch=$id")

    // r12 exactly-once reports (VERDICT #2): each index commits its
    // delta AND the batch's report rows in ONE atomic epoch keyed by
    // the streaming batch id; a replayed batch resolves to the
    // PERSISTED report, and the report copies land in per-batch
    // partition dirs — so a crash anywhere between index commit and
    // report copy is repaired by the replay instead of losing the
    // batch's rows forever (the r11 append-then-write sequence could).
    // `batch=<id>` is a partition-discovery key: reading
    // `reports/pairs` yields one table with batch provenance attached.
    def dedupChain(counts: scala.collection.mutable.Map[String, Long]): Unit = {
      var pairs: DataFrame = null
      // --normalize-nfc (r13): sign over NFC-normalized text so
      // composed/decomposed spellings of the same content pair up; the
      // index format marker pins the mode for the index lifetime.
      if (steps("dedup_commit")) {
        pairs = graft.streaming.IncrementalDedup
          .processBatch(docs, s"$index/dedup", id, threshold, normalizeNfc)
        counts("pairs") = committedRows(spark, s"$index/dedup", id, "pairs")
      }
      if (steps("pairs_report")) report(s"$index/dedup", "pairs", "pairs")
      // r12: fold the drop's pairs into the persisted cluster +
      // survivor state (the "which cluster, who survives" answer a
      // recurring pipeline reads — no batch re-clustering of the
      // accumulated corpus). Endpoint scores ride ON the pair report
      // (computed at signing time), so an old endpoint paired drops
      // later is still survivor-electable without re-reading its text.
      if (steps("cluster_commit")) {
        graft.streaming.IncrementalCluster.update(spark, s"$index/clusters", id,
          pairs, graft.streaming.IncrementalCluster.endpointScores(pairs))
        counts("relabels") = committedRows(spark, s"$index/clusters", id, "label_changes")
      }
      if (steps("cluster_reports")) {
        report(s"$index/clusters", "label_changes", "cluster_labels")
        report(s"$index/clusters", "survivor_changes", "cluster_survivors")
      }
    }

    // r11: cross-drop verbatim quotes (the t82 class — too little
    // whole-document overlap for the MinHash probe) surface from the
    // persisted window-hash index
    def spanChain(counts: scala.collection.mutable.Map[String, Long]): Unit = {
      if (steps("span_commit")) {
        graft.streaming.IncrementalSpanIndex.processBatch(docs, s"$index/spans", id)
        counts("spans") = committedRows(spark, s"$index/spans", id, "spans")
      }
      if (steps("spans_report")) report(s"$index/spans", "spans", "spans")
    }

    def annChain(counts: scala.collection.mutable.Map[String, Long]): Unit = {
      if (steps("ann_commit")) {
        val vecs = LlmOperators.embed(docs, embedder, backoffMs = _ => 0L)
          .filter(col("error").isNull)
          .select(col("doc_id").as("vec_id"),
            expr("transform(embedding, x -> cast(x as double))").as("v"))
        graft.streaming.IncrementalAnn.processBatch(vecs, s"$index/ann", id, cfg)
        counts("neighbors") = committedRows(spark, s"$index/ann/state", id, "neighbors")
      }
      if (steps("neighbors_report")) report(s"$index/ann/state", "neighbors", "neighbors")
    }

    // r13: the drop's quality expectations + volume profile fold into
    // epoch state too — the monthly pipeline publishes its feed-health
    // trend without a batch re-scan. r14: the rule set and grain are
    // caller-supplied (--rules / --quality-by), and the log splits
    // invariants from screens — screens are DESIGNED to bite on real
    // corpora, so only invariant counts signal breakage.
    def qualityChain(counts: scala.collection.mutable.Map[String, Long]): Unit =
      if (steps("quality_commit")) {
        val biting = graft.streaming.IncrementalQuality
          .processBatch(b, s"$index/quality", id, qualityRules, qualityBy)
          .filter(!col("pass")).select(col("severity")).collect().map(_.getString(0))
        counts("quality_invariants_biting") = biting.count(_ == "invariant").toLong
        counts("quality_screens_biting") = biting.count(_ == "screen").toLong
        counts("docs") = graft.streaming.IncrementalQuality
          .committedDocs(spark, s"$index/quality", id)
      }

    concurrently(Seq(dedupChain _, spanChain _, annChain _, qualityChain _).map { chain =>
      () => {
        val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        chain(counts)
        counts.toMap
      }
    }).reduce(_ ++ _)
  }

  def run(spark: SparkSession, in: String, index: String,
      embedder: graft.llm.Embedder = new graft.llm.StubEmbedder(),
      threshold: Double = 0.5,
      cfg: graft.streaming.IncrementalAnn.Config =
        graft.streaming.IncrementalAnn.Config(),
      normalizeNfc: Boolean = false,
      qualityRules: Seq[graft.operators.Expectations.Rule] =
        graft.streaming.IncrementalQuality.dropRules,
      qualityBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val docs = spark.readStream
      .schema(dropSchema)
      .option("pathGlobFilter", "*.json")
      .option("maxFilesPerTrigger", 100)
      .json(in)
    val query = docs.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .option("checkpointLocation", s"$index/checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.persist(StorageLevel.MEMORY_AND_DISK)
        val c = processDrop(b, index, id, embedder, threshold, cfg,
          normalizeNfc, qualityRules, qualityBy)
        println(s"drop batch $id: ${c("docs")} docs, " +
          s"${c("pairs")} near-dup pairs, ${c("spans")} verbatim spans, " +
          s"${c("neighbors")} neighbor rows, " +
          s"${c("relabels")} cluster relabels, " +
          s"${c("quality_invariants_biting")} quality invariants biting, " +
          s"${c("quality_screens_biting")} screens biting")
        b.unpersist()
        ()
      }
      .start()
    query.awaitTermination()
  }

  private def indexRoots(index: String): Seq[(String, SparkSession => Unit)] = Seq(
    (s"$index/dedup", s => graft.streaming.IncrementalDedup.compact(s, s"$index/dedup")),
    (s"$index/spans", s => graft.streaming.IncrementalSpanIndex.compact(s, s"$index/spans")),
    (s"$index/ann/state", s => graft.streaming.IncrementalAnn.compact(s, s"$index/ann")),
    (s"$index/clusters", s => graft.streaming.IncrementalCluster.compact(s, s"$index/clusters")),
    (s"$index/quality", s => graft.streaming.IncrementalQuality.compact(s, s"$index/quality")))

  /** Auto-compaction cadence (r14, VERDICT #6): compact any index whose
    * delta log has accumulated `every` or more committed epochs since
    * its last checkpoint — measured from the on-disk markers alone, so
    * the trigger costs two directory listings per index and no data
    * read. The five roots are checked and compacted concurrently. A cron'd monthly pipeline stays read-bounded (≤ `every`
    * fragments per relation) without the operator ever passing
    * `--compact`; `every <= 0` disables.
    */
  def maybeCompact(spark: SparkSession, index: String, every: Int): Unit = {
    if (every <= 0) return
    concurrently(indexRoots(index).map { case (root, compactFn) => () =>
      if (graft.streaming.StreamingState.exists(spark, root)) {
        val cp = graft.streaming.StreamingState.currentCheckpoint(spark, root)
        val pending = graft.streaming.StreamingState
          .committedEpochs(spark, root).count(_ > cp)
        if (pending >= every) {
          compactFn(spark)
          println(s"auto-compacted $root ($pending epochs since checkpoint)")
        }
      }
    })
    ()
  }

  /** `--report-dir` (r14, VERDICT #7): publish the quality trend as
    * CSV files + a self-contained HTML page, composed purely from the
    * folded [[graft.streaming.IncrementalQuality]] epoch state — zero
    * corpus passes; every collect is rules × scopes × epochs (the
    * trend), never document-sized.
    */
  def writeQualityReport(spark: SparkSession, index: String, out: String): Unit = {
    val q = s"$index/quality"
    val trend = graft.streaming.IncrementalQuality.readTrend(spark, q).collect()
    val totals = graft.streaming.IncrementalQuality.readTotals(spark, q).collect()
    val profile = graft.streaming.IncrementalQuality.readProfile(spark, q).collect()
    def cell(v: Any): String = v match {
      case null => ""
      case s: String if s.exists(",\"\n".contains(_)) =>
        "\"" + s.replace("\"", "\"\"") + "\""
      case other => other.toString
    }
    def csv(rows: Array[org.apache.spark.sql.Row], header: Seq[String]): String =
      (header.mkString(",") +:
        rows.toSeq.map(r => header.indices.map(i => cell(r.get(i))).mkString(",")))
        .mkString("", "\n", "\n")
    def esc(v: Any): String = Option(v).map(_.toString)
      .getOrElse("").replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def table(title: String, header: Seq[String],
        rows: Array[org.apache.spark.sql.Row]): String =
      s"<h2>${esc(title)}</h2><table border='1' cellspacing='0' cellpadding='4'>" +
        s"<tr>${header.map(h => s"<th>${esc(h)}</th>").mkString}</tr>" +
        rows.map(r => s"<tr>${header.indices
          .map(i => s"<td>${esc(r.get(i))}</td>").mkString}</tr>").mkString +
        "</table>"
    val trendCols = Seq("epoch", "scope", "rule", "severity", "n_violations", "pass")
    val totalCols = Seq("scope", "rule", "severity", "n_violations", "pass")
    val profileCols = Seq("epoch", "n_docs", "n_chars")
    val dir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("trend.csv"), csv(trend, trendCols))
    java.nio.file.Files.writeString(dir.resolve("totals.csv"), csv(totals, totalCols))
    java.nio.file.Files.writeString(dir.resolve("profile.csv"), csv(profile, profileCols))
    java.nio.file.Files.writeString(dir.resolve("index.html"),
      "<!DOCTYPE html><html><head><meta charset='utf-8'>" +
        "<title>graft-drop quality trend</title></head><body>" +
        "<h1>graft-drop quality trend</h1>" +
        table("Cumulative totals", totalCols, totals) +
        table("Per-drop trend", trendCols, trend) +
        table("Volume profile", profileCols, profile) +
        "</body></html>\n")
    println(s"quality report written to $out (${trend.length} trend rows, " +
      s"${profile.length} drops)")
  }

  def main(args: Array[String]): Unit = {
    val in = Cli.arg(args, "--in").getOrElse(sys.error("--in required"))
    val index = Cli.arg(args, "--index").getOrElse(sys.error("--index required"))
    val threshold = Cli.arg(args, "--threshold").map(_.toDouble).getOrElse(0.5)
    val k = Cli.arg(args, "--k").map(_.toInt).getOrElse(3)
    val spark = Cli.session("graft-drop")
    // --rules <file> (r14): a deployment's own quality rule set,
    // declared as a RulePack JSON-lines file; --quality-by <cols>
    // evaluates it at that grain (comma-separated, e.g. `source`);
    // --ref-dir <tablesDir> resolves fk rules' parent tables (the drop
    // input itself is batch-shaped, not a tables directory). Parents
    // are resolved INSIDE each drop's quality evaluation (r15 —
    // RulePack defers resolution into the rule's prepare hook), so a
    // dimension table updated mid-campaign is re-read fresh at the
    // next drop, never snapshotted at startup.
    val refResolve = Cli.arg(args, "--ref-dir")
      .map[String => org.apache.spark.sql.DataFrame](d =>
        t => graft.Tables.table(spark, d, t))
      .getOrElse(graft.operators.RulePack.noResolver)
    val rules = Cli.arg(args, "--rules")
      .map(p => graft.operators.RulePack.load(spark, p, refResolve))
      .getOrElse(graft.streaming.IncrementalQuality.dropRules)
    val qualityBy = Cli.arg(args, "--quality-by")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    run(spark, in, index, threshold = threshold,
      cfg = graft.streaming.IncrementalAnn.Config(k = k),
      normalizeNfc = args.contains("--normalize-nfc"),
      qualityRules = rules, qualityBy = qualityBy)
    // --compact (r12): force-fold each index's per-drop delta log into
    // one copy after draining — markers and reports stay, so replay
    // detection and report reads survive. Without the flag, the
    // auto-cadence below compacts any index whose pending-epoch count
    // crossed --compact-every (default 16; 0 disables). Either way the
    // five roots compact concurrently.
    if (args.contains("--compact")) {
      concurrently(indexRoots(index).map { case (_, compactFn) => () => compactFn(spark) })
      println("drop indexes compacted")
    } else {
      val every = Cli.arg(args, "--compact-every").map(_.toInt).getOrElse(16)
      maybeCompact(spark, index, every)
    }
    Cli.arg(args, "--report-dir").foreach(writeQualityReport(spark, index, _))
    spark.stop()
  }
}

/** Fused T+L — `--input <rawJsonDir> --output <dir> --jdbc <url>
  * [--fics fics.json]`: the reference's transform_folder.py
  * (transform existing raw JSONs and load each, transform_folder.py:
  * 23-64) as one job reusing the transformed frame for the load.
  */
object GraftTransformLoad {

  def run(spark: SparkSession, in: String, out: String, url: String,
      ficsPath: Option[String]): (Long, Long) =
    Using.resource(new GraftLoad.Prior(url)) { prior =>
      val (transformed, skipped) = GraftTransform.run(spark, in, out, ficsPath)
      val res = Fused.loadTransformed(spark, transformed, skipped, url, prior)
      transformed.unpersist()
      res
    }

  def main(args: Array[String]): Unit = {
    val in = Cli.arg(args, "--input").getOrElse(sys.error("--input required"))
    val out = Cli.arg(args, "--output").getOrElse(sys.error("--output required"))
    val url = Cli.jdbcUrl(args)
    val spark = Cli.session("graft-transform-load")
    run(spark, in, out, url, Cli.arg(args, "--fics"))
    spark.stop()
  }
}

/** One-command corpus curation — `--in <tablesDir> --out <dir>
  * [--budget N] [--span-decontaminate] [--cluster-split]
  * [--cut-substrings] [--zorder]`: the
  * LLM-pipeline counterpart
  * of the FIC drivers above. Runs the full corpus-production chain
  * ([[graft.operators.CurationOps.writeCuratedFull]]): exact-canonical
  * ∧ quality ∧ decontaminated ∧ near-dup-survivor filtering, optional
  * ~N whitespace tokens per source and optional t68 span-overlap
  * screening (drops train docs sharing any token window with the eval
  * split), optional t78 leakage-free splitting (every near-dup family
  * inherits its cluster representative's split, so duplicates never
  * straddle train/eval), optional t84/t85 exact-substring cutting
  * (cross-document verbatim spans removed from the written text, the
  * manifest recording tokens removed), optional z-ordered file layout
  * (rows clustered on interleaved (n_chars, doc_id) buckets within
  * each partition dir, so footer stats prune length-bounded AND
  * id-range reads — [[graft.operators.DataLayout]]), then the
  * partitioned (split, source) parquet write + release manifest.
  * Prints the manifest as the run summary.
  */
object GraftCurate {

  def run(spark: SparkSession, in: String, out: String,
      budget: Option[Long], spanDecontaminate: Boolean = false,
      clusterSplit: Boolean = false, cutSubstrings: Boolean = false,
      zorderCluster: Boolean = false): DataFrame = {
    val manifest = graft.operators.CurationOps
      .writeCuratedFull(spark, in, out, budget, spanDecontaminate,
        clusterSplit, cutSubstrings, zorderCluster)
    manifest.collect().foreach { r =>
      println(s"curated ${r.getAs[String]("split")}/${r.getAs[String]("source")}: " +
        s"${r.getAs[Long]("n_docs")} docs, ${r.getAs[Long]("n_chars")} chars")
    }
    manifest
  }

  def main(args: Array[String]): Unit = {
    val in = Cli.arg(args, "--in").getOrElse(sys.error("--in required"))
    val out = Cli.arg(args, "--out").getOrElse(sys.error("--out required"))
    val budget = Cli.arg(args, "--budget").map(_.toLong)
    val spanDecon = args.contains("--span-decontaminate")
    val clusterSplit = args.contains("--cluster-split")
    val cutSubstrings = args.contains("--cut-substrings")
    val zorder = args.contains("--zorder")
    val spark = Cli.session("graft-curate")
    run(spark, in, out, budget, spanDecon, clusterSplit, cutSubstrings, zorder)
    spark.stop()
  }
}

/** Cross-snapshot corpus diff — `--old <curatedDir> --new
  * <curatedDir>`: the promotion review a recurring curation pipeline
  * runs between last month's and this month's written snapshots
  * ([[graft.operators.SnapshotDiff]]): per (split, source), documents
  * added / removed / rewritten / moved and the char-volume delta.
  * Prints the report and exits non-zero if the new snapshot REMOVED
  * documents (the regression signal a promotion gate blocks on;
  * additions and rewrites are normal growth/cleaning).
  */
object GraftSnapshotDiff {

  def run(spark: SparkSession, oldP: String, newP: String): DataFrame = {
    val rep = graft.operators.SnapshotDiff.report(spark, oldP, newP)
    rep.collect().foreach { r =>
      println(s"diff ${r.getAs[String]("split")}/${r.getAs[String]("source")}: " +
        s"+${r.getAs[Long]("n_added")} -${r.getAs[Long]("n_removed")} " +
        s"~${r.getAs[Long]("n_rewritten")} moved=${r.getAs[Long]("n_moved")} " +
        s"chars ${r.getAs[Long]("chars_delta")}")
    }
    rep
  }

  def main(args: Array[String]): Unit = {
    val oldP = Cli.arg(args, "--old").getOrElse(sys.error("--old required"))
    val newP = Cli.arg(args, "--new").getOrElse(sys.error("--new required"))
    val spark = Cli.session("graft-snapshot-diff")
    // optional provenance (r12): with the corpus dir in hand, attribute
    // each rewritten/removed doc to the stage whose artifact claims it
    Cli.arg(args, "--dir").foreach { d =>
      graft.operators.SnapshotDiff.provenance(spark, d, oldP, newP)
        .groupBy(org.apache.spark.sql.functions.col("status"),
          org.apache.spark.sql.functions.col("cause"))
        .count().orderBy("status", "cause").collect()
        .foreach(r => println(
          s"provenance ${r.getString(0)}/${r.getString(1)}: ${r.getLong(2)} docs"))
    }
    // coalesce: sum() over an empty report (both snapshots empty) is
    // NULL — that is "nothing removed", not an NPE
    val removed = run(spark, oldP, newP)
      .agg(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.sum("n_removed"),
        org.apache.spark.sql.functions.lit(0L)))
      .collect()(0).getLong(0)
    spark.stop()
    if (removed > 0) sys.exit(2)
  }
}

/** Data-quality expectations over the documents table —
  * `--in <tablesDir> [--by-source] [--fail-on-violation]`: evaluates
  * the release rule set ([[graft.operators.Expectations.documentRules]])
  * in one aggregation pass (`--by-source`: at the source grain,
  * [[graft.operators.Expectations.evaluateBy]]) and prints the
  * per-rule report; with `--fail-on-violation` exits 2 when any
  * INVARIANT rule bites — the promotion firewall a cron wires BEFORE
  * graft-curate publishes a snapshot. Screening rules (language
  * allow-list, length ceiling) are designed to bite on real corpora:
  * their counts print as `screen`, never block promotion (r13,
  * closing the r12 ADVICE finding that the firewall exited 2 on every
  * real corpus).
  */
object GraftExpect {

  /** Returns the number of failing INVARIANT rules (the exit signal);
    * screening counts print but do not contribute. The rule set is a
    * parameter (r14): `--rules <file>` swaps in a
    * [[graft.operators.RulePack]] without recompiling.
    */
  def run(spark: SparkSession, in: String, bySource: Boolean = false,
      rules: Seq[graft.operators.Expectations.Rule] =
        graft.operators.Expectations.documentRules): Long = {
    import graft.operators.Expectations
    val severityOf = rules.map(r => r.name -> r.severity).toMap
    val rep = Expectations.evaluateBy(graft.Tables.documents(spark, in),
      rules, if (bySource) Seq("source") else Nil)
    var failing = 0L
    rep.collect().foreach { r =>
      val n = r.getAs[Long]("n_violations")
      val rule = r.getAs[String]("rule")
      val invariant = severityOf(rule) == Expectations.Invariant
      if (n > 0L && invariant) failing += 1L
      val where = if (bySource) s"${r.getAs[String]("source")}/" else ""
      println(s"expect $where$rule: " + (
        if (n == 0L) "pass"
        else if (invariant) s"FAIL ($n violations)"
        else s"screen ($n violations)"))
    }
    failing
  }

  def main(args: Array[String]): Unit = {
    val in = Cli.arg(args, "--in").getOrElse(sys.error("--in required"))
    val spark = Cli.session("graft-expect")
    // fk rules resolve their parent tables against the same --in
    // directory the gated table lives in
    val rules = Cli.arg(args, "--rules")
      .map(p => graft.operators.RulePack.load(spark, p,
        t => graft.Tables.table(spark, in, t)))
      .getOrElse(graft.operators.Expectations.documentRules)
    val failing = run(spark, in, bySource = args.contains("--by-source"),
      rules = rules)
    spark.stop()
    if (failing > 0 && args.contains("--fail-on-violation")) sys.exit(2)
  }
}

/** One-command event-stream analytics report — `--in <tablesDir> --out
  * <dir>`: the monitoring counterpart of graft-curate, composing the
  * oracle-gated analytics operators into one report directory:
  * hourly anomalies (q39), daily funnel conversions (q40), cohort
  * retention (q41), trailing-24h rolling spend (q42, summarized to its
  * per-user maxima so the report stays user-sized) and the 5-minute
  * proximity-pair counts (q37). Every frame written is the SAME shared
  * builder its gate verifies, so the report cannot desync from the
  * verified operators. Prints headline counts as the run summary.
  */
object GraftAnalyze {

  def run(spark: SparkSession, in: String, out: String): Unit = {
    import org.apache.spark.sql.functions._
    val sections = Seq(
      "anomalies" -> graft.operators.Analytics.qAnomaly(spark, in),
      "funnel" -> graft.operators.Analytics.qFunnel(spark, in),
      "cohorts" -> graft.operators.Analytics.qCohortRetention(spark, in),
      "rolling_peaks" -> graft.operators.Analytics.qRollingWindow(spark, in)
        .groupBy(col("user_id"))
        .agg(max(col("n_24h")).as("peak_events_24h"),
          max(col("spend_24h")).as("peak_spend_24h"))
        .orderBy(col("user_id")),
      "proximity" -> graft.operators.Analytics.qProximityJoin(spark, in))
    sections.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      println(s"analyze $name: ${spark.read.parquet(s"$out/$name").count()} rows")
    }
  }

  def main(args: Array[String]): Unit = {
    val in = Cli.arg(args, "--in").getOrElse(sys.error("--in required"))
    val out = Cli.arg(args, "--out").getOrElse(sys.error("--out required"))
    val spark = Cli.session("graft-analyze")
    run(spark, in, out)
    spark.stop()
  }
}
