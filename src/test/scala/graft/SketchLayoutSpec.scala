package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{StreamingCms, StreamingQuantile, StreamingState}

/** Sketch roots written before the sketches folded through
  * `StreamingState.fold` keep working: such a root holds only its two
  * newest epochs, each with the merged state AND an `applied` ledger of
  * every batch id so far, and only those two epochs' markers. A replay
  * of the newest id must be a no-op (its marker is there), and a new
  * id must fold onto the newest state.
  */
class SketchLayoutSpec extends AnyFunSuite {

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

  /** The ledger-era layout after batches `0..ids.last`: for each id in
    * `ids`, `epoch-<id>/{rel, applied}` and the marker `commits/<id>`.
    */
  private def writeLedgerLayout(root: String, rel: String,
      ids: Seq[Long], state: Long => DataFrame): Unit = {
    import spark.implicits._
    Files.createDirectories(Paths.get(root, "commits"))
    ids.foreach { e =>
      state(e).write.parquet(StreamingState.epochRel(root, e, rel))
      (0L to e).toDF("batch_id").write.parquet(StreamingState.epochRel(root, e, "applied"))
      Files.createFile(Paths.get(root, "commits", e.toString))
    }
  }

  /** Batches 0..3; the root holds epochs 1 and 2 (0 was pruned). */
  private def continues(rel: String, batches: Seq[DataFrame],
      merged: Seq[DataFrame] => DataFrame,
      applyBatch: (DataFrame, String, Long) => Boolean,
      read: String => DataFrame): Unit = {
    val root = Files.createTempDirectory("sketch-layout").toString + "/sketch"
    writeLedgerLayout(root, rel, Seq(1L, 2L), e => merged(batches.take(e.toInt + 1)))
    val upTo2 = merged(batches.take(3)).collect().toSet
    assert(read(root).collect().toSet === upTo2)
    // the newest id replayed: a no-op
    assert(!applyBatch(batches(2), root, 2L))
    assert(read(root).collect().toSet === upTo2)
    // a new id folds onto epoch 2's state
    assert(applyBatch(batches(3), root, 3L))
    assert(read(root).collect().toSet === merged(batches).collect().toSet)
    assert(StreamingState.committedEpochs(spark, root) === Seq(1L, 2L, 3L))
    assert(!StreamingState.exists(spark, StreamingState.epochRel(root, 1L, rel)))
    assert(!StreamingState.exists(spark, StreamingState.epochRel(root, 3L, "applied")))
  }

  test("a ledger-era CMS root takes a new batch and ignores a replay of its newest") {
    import spark.implicits._
    val batches = Seq("x x y", "y z", "x w w w", "z z x").zipWithIndex
      .map { case (t, i) => Seq((s"d$i", t)).toDF("doc_id", "text") }
    continues("cells", batches,
      bs => bs.map(StreamingCms.batchCells).reduce(_ unionByName _)
        .groupBy(col("d"), col("b")).agg(sum(col("c")).as("c")),
      StreamingCms.applyBatch,
      StreamingCms.readSketch(spark, _))
  }

  test("a ledger-era quantile root takes a new batch and ignores a replay of its newest") {
    import spark.implicits._
    val batches = (0 until 4).map { i =>
      (0 until 50).map(j => (if (j % 3 == 0) "app" else "web", (i * 50L + j) * 104729L % 4000000L))
        .toDF("src", "cents")
    }
    continues("bins", batches,
      bs => bs.map(StreamingQuantile.batchBins(_, col("src"), col("cents")))
        .reduce(_ unionByName _)
        .groupBy(col("g"), col("bin")).agg(sum(col("cnt")).as("cnt")),
      StreamingQuantile.applyBatch(_, _, col("src"), col("cents"), _),
      StreamingQuantile.readSketch(spark, _))
  }
}
