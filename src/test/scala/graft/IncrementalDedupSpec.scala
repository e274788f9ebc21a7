package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.streaming.{IncrementalAnn, IncrementalCluster, IncrementalDedup,
  IncrementalQuality, IncrementalSpanIndex, StreamingCms, StreamingHll, StreamingQuantile}

/** Updateable near-dup signature index (VERDICT r4 #6): batch 2 must
  * find its near-dups against batch 1 by probing the PERSISTED index —
  * batch 1's text is gone by then, so its signatures cannot be
  * recomputed; they can only come from the index.
  */
class IncrementalDedupSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val textA =
    "the quick brown fox jumps over the lazy dog near the quiet river bank today"
  private val textB =
    "completely different content about spark partitions and shuffle exchanges at scale"
  private val textC =
    "third document mentioning parquet files vectorized readers and column pruning"
  // near-dup of textA: only the final word differs -> one shingle of 13 changes
  private val textA2 =
    "the quick brown fox jumps over the lazy dog near the quiet river bank tonight"

  test("streamed batches maintain the index; batch 2 probes batch 1 via the index only") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val indexPath = java.nio.file.Files.createTempDirectory("dedup_idx")
      .resolve("index").toString

    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    var results = Map.empty[Long, Seq[(Long, Long, Double)]]
    val q = IncrementalDedup.sink(docs, indexPath) { (pairs, id) =>
      results += id -> pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    }.start()

    // batch 1: three distinct documents -> no pairs, index seeded
    mem.addData((1L, textA), (2L, textB), (3L, textC))
    q.processAllAvailable()
    assert(results(0).isEmpty)
    assert(IncrementalDedup.readIndex(spark, indexPath).count() == 3)

    // batch 2: an exact copy of doc 1, a near-copy of doc 1, one new
    // distinct doc. The matches can only come from the stored index.
    mem.addData((10L, textA), (11L, textA2), (12L, "tiny unrelated note about nothing"))
    q.processAllAvailable()
    q.stop()

    val found = results(1)
    assert(found.exists { case (a, b, j) => a == 1L && b == 10L && j == 1.0 },
      s"exact cross-batch dup not found: $found")
    assert(found.exists { case (a, b, j) => a == 1L && b == 11L && j >= 0.5 },
      s"near cross-batch dup not found: $found")
    // batch-internal pair between the two new versions of textA
    assert(found.exists { case (a, b, _) => a == 10L && b == 11L },
      s"batch-internal dup not found: $found")
    // no old-vs-old re-probing: every pair involves a batch-2 doc
    assert(found.forall { case (_, b, _) => b >= 10L })

    val idx = IncrementalDedup.readIndex(spark, indexPath)
    assert(idx.count() == 6)

    // replayed micro-batch (streaming retry): pure no-op — nothing
    // re-probed, nothing re-appended
    val replay = IncrementalDedup.probeAndUpdate(
      Seq((10L, textA), (11L, textA2)).toDF("doc_id", "text"), indexPath)
    assert(replay.count() == 0)
    assert(IncrementalDedup.readIndex(spark, indexPath).count() == 6)
    replay.unpersist()
  }

  test("index format version: stamped on create, refused on mismatch or unversioned") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("dedup_ver")

    // first use stamps the marker
    val idx1 = base.resolve("fresh").toString
    IncrementalDedup.probeAndUpdate(
      Seq((1L, textA)).toDF("doc_id", "text"), idx1).unpersist()
    val marker = java.nio.file.Paths.get(idx1, "_graft_format_version")
    assert(java.nio.file.Files.exists(marker))
    assert(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim == "3")
    // and re-opening the index it stamped is fine
    assert(IncrementalDedup.readIndex(spark, idx1).count() == 1)
    // version 3's stored band keys of one fixed document: a signing
    // change that keeps the version number would orphan every index
    val bands = IncrementalDedup.readIndex(spark, idx1)
      .select("b1", "b2", "b3", "b4").head().toSeq
    assert(bands === Seq("53634904476:37802870661", "15921935987:1681461917",
      "3378169725:103711068037", "42922012243:82053776517"))

    // an index stamped with a DIFFERENT scheme version must refuse
    val idx2 = base.resolve("v1").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(idx2))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(idx2, "_graft_format_version"), "1".getBytes("UTF-8"))
    val e1 = intercept[IllegalStateException] {
      IncrementalDedup.probeAndUpdate(Seq((2L, textB)).toDF("doc_id", "text"), idx2)
    }
    assert(e1.getMessage.contains("version 1"))

    // content that predates the format (data files, no commits/ log
    // and no stamp) must be refused by every state root's reader AND
    // writer — the drop indexes and the streaming sketches; read as
    // committed epochs it would look empty
    val docs = Seq((2L, textB)).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val scores = Seq((1L, 0.5), (2L, 0.5)).toDF("doc_id", "score")
    val vecs = Seq((2L, Seq(1.0, 0.0))).toDF("vec_id", "v")
    // (name, legacy content dir under the index path, reader, writer)
    val roots: Seq[(String, String, String => Any, String => Any)] = Seq(
      ("dedup", "", IncrementalDedup.readIndex(spark, _).count(),
        IncrementalDedup.processBatch(docs, _, 0L).count()),
      ("clusters", "", IncrementalCluster.readMembers(spark, _).count(),
        IncrementalCluster.update(spark, _, 0L, pairs, scores).labelChanges.count()),
      ("spans", "", IncrementalSpanIndex.readIndex(spark, _).count(),
        IncrementalSpanIndex.processBatch(docs, _, 0L).count()),
      ("ann", "/state", IncrementalAnn.readIndex(spark, _).count(),
        IncrementalAnn.processBatch(vecs, _, 0L).count()),
      ("quality", "", IncrementalQuality.readTrend(spark, _).count(),
        IncrementalQuality.processBatch(docs, _, 0L).count()),
      ("cms", "", StreamingCms.readSketch(spark, _).count(),
        StreamingCms.applyBatch(docs, _, 0L)),
      ("hll", "", StreamingHll.readRegisters(spark, _).count(),
        StreamingHll.applyBatch(docs, _, col("doc_id"), col("text"))),
      ("quantile", "", StreamingQuantile.readSketch(spark, _).count(),
        StreamingQuantile.applyBatch(docs, _, col("doc_id"), col("doc_id"), 0L)))
    roots.foreach { case (name, sub, reader, writer) =>
      val idx = base.resolve(s"unversioned-$name").toString
      Seq((9L, textC)).toDF("doc_id", "text").write.parquet(idx + sub)
      java.nio.file.Files.list(java.nio.file.Paths.get(idx + sub)).forEach { f =>
        val n = f.getFileName.toString
        if (n.startsWith("_") && n != "part") java.nio.file.Files.deleteIfExists(f)
        ()
      }
      Seq("reader" -> reader, "writer" -> writer).foreach { case (role, open) =>
        val e = intercept[IllegalStateException](open(idx))
        assert(e.getMessage.contains("predates"), s"$name $role: ${e.getMessage}")
      }
    }
  }

  test("normalize-nfc signing pairs composed/decomposed duplicates; mode is pinned to the index") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("dedup_nfc")
    // the same sentence spelled composed (U+00E9 etc.) and decomposed
    // (e + U+0301): different byte strings, so every shingle differs
    // and raw-text signing can never pair them
    val composed =
      "el café está cerca del río según la señora que pasó ayer por aquí camino al mercado"
    val decomposed = java.text.Normalizer.normalize(composed,
      java.text.Normalizer.Form.NFD)
    assert(composed != decomposed)

    // raw signing: no pair (the leak the normalization closes)
    val rawIdx = base.resolve("raw").toString
    IncrementalDedup.probeAndUpdate(
      Seq((1L, composed)).toDF("doc_id", "text"), rawIdx).unpersist()
    val rawPairs = IncrementalDedup.probeAndUpdate(
      Seq((2L, decomposed)).toDF("doc_id", "text"), rawIdx)
    assert(rawPairs.count() == 0,
      "raw signatures should NOT pair cross-normalization duplicates")

    // NFC signing: exact pair, jaccard 1.0
    val nfcIdx = base.resolve("nfc").toString
    IncrementalDedup.probeAndUpdate(
      Seq((1L, composed)).toDF("doc_id", "text"), nfcIdx,
      normalizeNfc = true).unpersist()
    val nfcPairs = IncrementalDedup.probeAndUpdate(
      Seq((2L, decomposed)).toDF("doc_id", "text"), nfcIdx,
      normalizeNfc = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(nfcPairs.toSeq == Seq((1L, 2L, 1.0)),
      s"NFC signatures must pair the spellings exactly: ${nfcPairs.toSeq}")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(nfcIdx, "_graft_format_version")), "UTF-8").trim
      == "3+nfc")

    // probing an NFC index with raw signatures (or vice versa) refuses:
    // mixed modes would silently miss exactly these duplicates
    val e = intercept[IllegalStateException] {
      IncrementalDedup.probeAndUpdate(
        Seq((3L, composed)).toDF("doc_id", "text"), nfcIdx)
    }
    assert(e.getMessage.contains("normalize-nfc"))
    val e2 = intercept[IllegalStateException] {
      IncrementalDedup.probeAndUpdate(
        Seq((3L, composed)).toDF("doc_id", "text"), rawIdx,
        normalizeNfc = true)
    }
    assert(e2.getMessage.contains("normalize-nfc"))
  }
}
