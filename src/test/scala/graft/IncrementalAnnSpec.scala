package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.IncrementalAnn

/** Incremental sign-LSH ANN index: batch 2 must find neighbors from
  * batch 1 by probing the persisted signature index under the
  * persisted hyperplane model — nothing from batch 1 is recomputed.
  */
class IncrementalAnnSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streamed batches maintain the ANN index; neighbors found via the index alone") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val indexPath = java.nio.file.Files.createTempDirectory("ann_idx")
      .resolve("index").toString
    val cfg = IncrementalAnn.Config(bands = 2, bits = 8, cap = 100L, k = 3)

    // batch 1: 16 plane-seeding vectors + one distinctive vector (50)
    val seed = (0L until 16L).map { i =>
      (i, Seq(1.0, (i % 3).toDouble - 1, (i * 7 % 5).toDouble - 2, (i % 2).toDouble))
    }
    val b1 = seed :+ (50L, Seq(10.0, 1.0, 0.0, 0.0))

    val mem = MemoryStream[(Long, Seq[Double])]
    val vecs = mem.toDF().toDF("vec_id", "v")
    var results = Map.empty[Long, Seq[(Long, Int, Long, Double)]]
    val q = IncrementalAnn.sink(vecs, indexPath, cfg) { (topk, id) =>
      results += id -> topk.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(1 + 1), r.getDouble(3)))
        .toSeq.sorted
    }.start()

    mem.addData(b1: _*)
    q.processAllAvailable()
    // batch 2: an exact copy of vector 50 plus an unrelated vector
    mem.addData((200L, Seq(10.0, 1.0, 0.0, 0.0)), (201L, Seq(-5.0, -5.0, 9.0, 1.0)))
    q.processAllAvailable()
    q.stop()

    // the copy's top neighbor is batch 1's vector 50 at cosine 1.0 —
    // reachable only through the persisted index
    val hit = results(1).find { case (qid, rank, _, _) => qid == 200L && rank == 1 }
    assert(hit.exists { case (_, _, n, c) => n == 50L && math.abs(c - 1.0) < 1e-12 },
      s"expected (200, rank 1) -> 50 @ 1.0, got ${results(1)}")
    // only batch-2 vectors ever appear as queries (no old-vs-old probing)
    assert(results(1).forall { case (qid, _, _, _) => qid >= 200L })

    // index state: all vectors appended once; the plane model was
    // written by batch 1 and NOT rewritten by batch 2
    val vectors = IncrementalAnn.readIndex(spark, indexPath)
    assert(vectors.count() == b1.size + 2)
    assert(spark.read.parquet(s"$indexPath/planes").count() == 16)
    // vector 2's stored sign bits under the 16 seed planes: a signing
    // change would orphan every existing index
    assert(vectors.filter("vec_id = 2").select("bucket").head().getLong(0) == 23510L)

    // replay (streaming retry): no-op, no duplicate index rows
    val replay = IncrementalAnn.probeAndUpdate(
      Seq((200L, Seq(10.0, 1.0, 0.0, 0.0))).toDF("vec_id", "v"), indexPath, cfg)
    assert(replay.count() == 0)
    assert(IncrementalAnn.readIndex(spark, indexPath).count() == b1.size + 2)
    replay.unpersist()
  }

  test("a planes write killed before its marker is redone on replay, not signed against") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val rnd = new scala.util.Random(40)
    val drops = Seq(0L until 40L, 40L until 50L)
      .map(_.map(i => (i, Seq.fill(6)(rnd.nextGaussian()))).toDF("vec_id", "v"))
    val base = java.nio.file.Files.createTempDirectory("ann_planes")
    /** Both drops through `idx`: (planes, per-drop neighbor reports). */
    def run(idx: String): (Seq[String], Seq[Seq[String]]) = {
      val reports = drops.zipWithIndex.map { case (d, b) =>
        IncrementalAnn.processBatch(d, idx, b.toLong).collect().map(_.toString).toSeq.sorted
      }
      (spark.read.schema("plane_id int, pv array<double>").parquet(s"$idx/planes")
        .collect().map(_.toString).toSeq.sorted, reports)
    }
    val clean = run(base.resolve("clean").toString)
    assert(clean._1.size == 16 && clean._2.forall(_.nonEmpty))
    // the first drop was killed while Spark wrote the planes: the job
    // had created planes/ and its staging dir, but committed no file
    val torn = base.resolve("torn").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(torn, "planes", "_temporary", "0"))
    assert(run(torn) == clean)
  }

  test("new-drop flow: raw text through embed into the incremental ANN index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // The monthly-drop composition across packs: new documents are
    // embedded (batched map operator) and probed/appended against the
    // persisted vector index — no text or vector from an earlier drop
    // is recomputed.
    val indexPath = java.nio.file.Files.createTempDirectory("drop_idx")
      .resolve("index").toString
    val cfg = IncrementalAnn.Config(bands = 2, bits = 8, cap = 100L, k = 3)
    val embedder = new graft.llm.StubEmbedder()
    def embedded(texts: Seq[(Long, String)]) =
      graft.llm.LlmOperators.embed(texts.toDF("doc_id", "text"), embedder,
          backoffMs = _ => 0L)
        .select(col("doc_id").as("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))

    // drop 1: 16 plane-seeders + a distinctive document
    val drop1 = (0L until 16L).map(i =>
      (i, s"filler document number $i with words w${i} w${i * 3 % 7} w${i % 5}")) :+
      (50L, "quarterly earnings report for the acme corporation fiscal year")
    IncrementalAnn.probeAndUpdate(embedded(drop1), indexPath, cfg).unpersist()

    // drop 2: a shuffled-word copy of doc 50 (identical bag → identical
    // stub embedding) plus an unrelated doc
    val drop2 = Seq(
      (200L, "acme corporation fiscal report quarterly earnings the for year"),
      (201L, "completely unrelated gardening tips about tomato seedlings"))
    val topk = IncrementalAnn.probeAndUpdate(embedded(drop2), indexPath, cfg)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

    val hit = topk.find { case (qid, rank, _, _) => qid == 200L && rank == 1 }
    assert(hit.exists { case (_, _, n, c) => n == 50L && math.abs(c - 1.0) < 1e-6 },
      s"expected (200, rank 1) -> 50 @ ~1.0, got ${topk.mkString(", ")}")
    assert(IncrementalAnn.readIndex(spark, indexPath).count() == drop1.size + 2)
  }
}
