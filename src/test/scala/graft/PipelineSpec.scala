package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.{LlmOperators, StubEmbedder, StubOcrClient, StubStructurizer}
import graft.operators.Multimodal
import graft.sources.FicSources
import graft.streaming.FicStreaming
import graft.fic.{FicLookup, FicTransform}

/** Extract-stage operators, sources, streaming and multimodal plumbing. */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("binaryFile PDF scan reads the reference corpus") {
    val dir = ReferenceCorpus.assumePdfs()
    spark.sparkContext.setLogLevel("WARN")
    val pdfs = FicSources.pdfFolder(spark, dir)
    assert(pdfs.count() == 7)
    assert(pdfs.filter(col("filename").endsWith(".pdf")).count() == 7)
    assert(pdfs.select("content").head().getAs[Array[Byte]](0).nonEmpty)
  }

  test("ocr + structurize: stub clients, retries, quarantine column") {
    val pdfs = FicSources.pdfFolder(spark, PdfFixture.folder(7))
    // failEvery=3: every third call throws once; in-lambda retry recovers
    val texts = LlmOperators.ocr(pdfs, new StubOcrClient(failEvery = 3),
      maxInFlight = 2, backoffMs = _ => 0L)
    assert(texts.count() == 7)
    assert(texts.filter(col("error").isNull).count() == 7)
    assert(texts.rdd.getNumPartitions == 2) // bounded in-flight calls

    val docs = LlmOperators.structurize(texts, new StubStructurizer,
      maxInFlight = 2, backoffMs = _ => 0L)
    assert(docs.filter(col("doc").isNotNull).count() == 7)
    assert(docs.select("doc.fic.gestor").distinct().head().getString(0) == "stub")
    // downstream: the stubbed docs run the real transform chain
    val transformed = FicTransform(
      docs.select(col("path").as("filename"), col("doc.*")), FicLookup(Nil))
    assert(transformed.select("fic.fecha_corte").head().getString(0) == "2025-07-01")
    assert(transformed.select("fic.tipo").head().getString(0) == "Renta Fija")
  }

  test("embed: batched stub client, retry recovery, quarantine, ANN-ready output") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
      .limit(40).select(col("doc_id"), col("text"))
    // failEvery=2: each task's client fails every second call, so with
    // 3 batches per task the retry path fires multiple times per task
    // (the stub counter is per deserialized task-side instance)
    val out = LlmOperators.embed(docs,
      new StubEmbedder(failEvery = 2), batchSize = 8,
      maxInFlight = 2, backoffMs = _ => 0L)
    val rows = out.collect()
    assert(rows.length == 40 && rows.forall(_.getAs[String]("error") == null))
    rows.foreach { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("embedding")
      assert(v.length == 64)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-5, s"vector not normalized: $n")
    }
    // determinism: batching/partitioning must not change a vector
    val again = LlmOperators.embed(docs, new StubEmbedder(), batchSize = 3,
      maxInFlight = 4, backoffMs = _ => 0L).collect()
    val byId = again.map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]]("embedding")).toMap
    rows.foreach(r => assert(byId(r.getLong(0)) == r.getAs[scala.collection.Seq[Float]]("embedding")))
    // quarantine: null text never reaches the client
    val poisoned = Seq((999L, null: String)).toDF("doc_id", "text")
    val q = LlmOperators.embed(poisoned, new StubEmbedder(), backoffMs = _ => 0L).head()
    assert(q.getAs[String]("error") == "no text" && q.get(1) == null)
    // a short (row-dropping) response must quarantine the batch, not
    // truncate it
    val shortClient = new graft.llm.Embedder {
      def embed(ts: Seq[String]) = new StubEmbedder().embed(ts).dropRight(1)
    }
    val dropped = LlmOperators.embed(docs.limit(6), shortClient,
      batchSize = 3, maxInFlight = 1, backoffMs = _ => 0L).collect()
    assert(dropped.length == 6, "rows were silently dropped")
    assert(dropped.forall(r => r.getAs[String]("error") != null &&
      r.getAs[String]("error").contains("vectors for")))
  }

  test("fence stripping handles the three shapes") {
    assert(LlmOperators.stripFences("```json\n{\"a\":1}\n```") == "{\"a\":1}")
    assert(LlmOperators.stripFences("```\n{\"a\":1}\n```") == "{\"a\":1}")
    assert(LlmOperators.stripFences("{\"a\":1}") == "{\"a\":1}")
  }

  test("skip list parses comments and canonicalizes names") {
    val dir = java.nio.file.Files.createTempDirectory("skip").toFile
    val f = new java.io.File(dir, "skip_list.txt")
    java.nio.file.Files.writeString(f.toPath,
      "# comment\nprogresion_globalVista_raw\n\nother_fund_raw.json\nalready_transformed.json\n")
    val skips = FicSources.skipList(spark, f.getAbsolutePath)
      .collect().map(_.getString(0)).toSet
    assert(skips == Set(
      "progresion_globalVista_raw_transformed.json",
      "other_fund_raw_transformed.json",
      "already_transformed.json"))
  }

  test("streaming: file-source raw docs through the transform chain") {
    val out = java.nio.file.Files.createTempDirectory("stream_in").toFile
    // three committed raw documents as a "new month drop"
    val srcs = new java.io.File(ParityFixture.rawDir)
      .listFiles().filter(_.getName.endsWith("_raw.json")).sortBy(_.getName).take(3)
    srcs.foreach(s => java.nio.file.Files.copy(s.toPath,
      new java.io.File(out, s.getName).toPath))

    val raw = FicStreaming.rawJsonStream(spark, out.getAbsolutePath)
    assert(raw.isStreaming)
    val transformed = FicStreaming.transformStream(raw, FicLookup(Nil))
    var seen = 0L
    val q = FicStreaming.upsertSink(transformed) { (batch, _) =>
      seen += batch.count()
    }.start()
    q.processAllAvailable(); q.stop()
    assert(seen == 3)
  }

  test("streaming: watermarked tumbling-window counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val agg = FicStreaming.eventCounts(events, "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("ec")
      .outputMode("update").start()
    mem.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:40:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 01:10:00"), "view", 3.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("select event_type, n, sum_value from ec").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
  }

  test("multimodal: feature extraction, dimensions, frame sampling") {
    import spark.implicits._
    val media = Seq(
      (1L, "image/png", Array.fill[Byte](10000)(1)),
      (2L, "video/mp4", Array.fill[Byte](100000)(2)),
      (3L, "audio/wav", Array.fill[Byte](5000)(3)))
      .toDF("media_id", "mime", "content")

    val dec = new Multimodal.StubDecoder(dim = 16)
    val feats = Multimodal.extractFeatures(media, dec)
    assert(feats.count() == 3)
    assert(feats.select("features").head().getSeq[Float](0).length == 16)
    // deterministic: same payload -> same features
    val f1 = Multimodal.extractFeatures(media, dec)
      .filter(col("media_id") === 1).select("features").head().getSeq[Float](0)
    val f2 = feats.filter(col("media_id") === 1).select("features").head().getSeq[Float](0)
    assert(f1 == f2)

    val dims = Multimodal.probeDimensions(media, dec)
    assert(dims.filter(col("media_id") === 1).head().getInt(1) > 0)
    assert(dims.filter(col("media_id") === 2).head().getInt(1) == -1)

    val frames = Multimodal.sampleFrames(media.filter(col("media_id") === 2),
      everyKth = 5, frameBytes = 4096)
    assert(frames.count() > 1)
  }
}
