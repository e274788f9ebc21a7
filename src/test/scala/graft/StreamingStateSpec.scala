package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{StreamingCms, StreamingState}

/** The epoch + atomic-marker commit discipline of `StreamingState.fold`
  * for full-state relations (each epoch's copy supersedes the last): a
  * fold's relations become visible in ONE atomic marker creation, so
  * there is no crash window in which a batch's increments are applied
  * but unrecorded (the r10 double-count-on-replay hazard). Crash
  * scenarios are simulated by doing exactly what a crashed commit
  * leaves behind: an epoch directory with no marker, or a completed
  * marker before the retry.
  */
class StreamingStateSpec extends AnyFunSuite {

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

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-state").toString

  private val schema = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("v", LongType, nullable = false)))

  /** Fold the one-row full-state relation `cells` = (a, v) as epoch `e`. */
  private def foldCells(root: String, e: Long, v: Long): Unit = {
    import spark.implicits._
    StreamingState.fold(spark, root, StreamingState.Format("test state"), e,
        Map.empty, fullState = Seq("cells")) {
      Map("cells" -> Seq(("a", v)).toDF("k", "v"))
    }
    ()
  }

  test("uncommitted epoch directory is invisible; the marker is the commit point") {
    import spark.implicits._
    val root = freshDir()
    foldCells(root, 0L, 1L)
    // a crash after writing epoch-1's files but BEFORE its marker:
    Seq(("a", 99L)).toDF("k", "v")
      .write.parquet(StreamingState.epochRel(root, 1L, "cells"))
    assert(StreamingState.currentEpoch(spark, root) === 0L)
    val got = StreamingState.readCurrent(spark, root, "cells", schema).collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("a", 1L)))
    // the retry rewrites the orphan directory and publishes it
    foldCells(root, 1L, 2L)
    val after = StreamingState.readCurrent(spark, root, "cells", schema).collect()
    assert(after.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("a", 2L)))
  }

  test("pruning keeps the newest two epochs only") {
    val root = freshDir()
    (0L to 4L).foreach(e => foldCells(root, e, e))
    assert(StreamingState.currentEpoch(spark, root) === 4L)
    assert(!StreamingState.exists(spark, StreamingState.epochRel(root, 2L, "cells")))
    assert(StreamingState.exists(spark, StreamingState.epochRel(root, 3L, "cells")))
    assert(StreamingState.exists(spark, StreamingState.epochRel(root, 4L, "cells")))
    // the markers all stay: replay detection covers the whole history
    assert(StreamingState.committedEpochs(spark, root) === (0L to 4L))
  }

  test("CMS retry after a crash-before-marker does not double-count") {
    import spark.implicits._
    val root = freshDir()
    val b0 = Seq(("d1", "x x y")).toDF("doc_id", "text")
    assert(StreamingCms.applyBatch(b0, root, 0L))
    val after0 = StreamingCms.readSketch(spark, root)
      .agg(sum(col("c"))).collect()(0).getLong(0)
    // simulate batch 1's crashed first attempt: its epoch dir exists
    // (cells already merged!) but the marker was never created
    val b1 = Seq(("d2", "x z")).toDF("doc_id", "text")
    val crashedCells = StreamingCms.readSketch(spark, root)
      .unionByName(StreamingCms.batchCells(b1))
      .groupBy(col("d"), col("b")).agg(sum(col("c")).as("c"))
    crashedCells.write.parquet(StreamingState.epochRel(root, 1L, "cells"))
    // the retry must start from epoch 0 (not the orphan), apply once
    assert(StreamingCms.applyBatch(b1, root, 1L))
    val total = StreamingCms.readSketch(spark, root)
      .agg(sum(col("c"))).collect()(0).getLong(0)
    // 3 words in b0, 2 in b1, Depth cells per word
    val depth = graft.operators.CurationOps.cmsParams._1
    assert(after0 === 3L * depth)
    assert(total === 5L * depth)
    // and a replay of the now-committed batch id is a ledger no-op
    assert(!StreamingCms.applyBatch(b1, root, 1L))
    assert(StreamingCms.readSketch(spark, root)
      .agg(sum(col("c"))).collect()(0).getLong(0) === total)
  }
}
