package graft

import java.io.IOException

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingState

/** The local filesystem under the `faulty:` scheme, except that every
  * file create under a `commits/` or `checkpoints/` log fails — a full
  * disk or an object-store error at the one write that publishes an
  * epoch.
  */
class FaultyCommitFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def getScheme: String = "faulty"

  private def check(f: Path): Unit = {
    val p = f.toUri.getPath
    if (p.contains("/commits/") || p.contains("/checkpoints/"))
      throw new IOException(s"injected create failure: $p")
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

/** Publishing an epoch is creating its marker. A create that fails for
  * any reason but "the marker already exists" must surface as an error:
  * swallowing it leaves an unpublished epoch that the caller then reads
  * back as committed, and that `readCommittedDeltas` silently skips.
  */
class CommitPublishSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val hc = s.sparkContext.hadoopConfiguration
    hc.set("fs.faulty.impl", classOf[FaultyCommitFs].getName)
    hc.setBoolean("fs.faulty.impl.disable.cache", true)
    s
  }

  private val schema = StructType(Seq(
    StructField("k", StringType, nullable = false),
    StructField("v", LongType, nullable = false)))

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-publish").toString

  test("a failed marker create fails commit, commitAppend and checkpointDeltas") {
    import spark.implicits._
    val cells = Seq(("a", 1L)).toDF("k", "v")

    val delta = "faulty://" + freshDir()
    val e1 = intercept[IOException](
      StreamingState.commitAppend(spark, delta, 0L, Map("cells" -> cells)))
    assert(e1.getMessage.contains("injected create failure"), e1.getMessage)
    assert(!StreamingState.isCommitted(spark, delta, 0L))
    assert(StreamingState.readCommittedDeltas(spark, delta, "cells", schema)
      .count() === 0L)

    // epoch 0 published on the plain local path; its checkpoint publish,
    // through the faulty scheme on the same directory, fails
    val local = freshDir()
    StreamingState.commitAppend(spark, local, 0L, Map("cells" -> cells))
    intercept[IOException](
      StreamingState.checkpointDeltas(spark, "faulty://" + local,
        Map("cells" -> schema)))
    assert(StreamingState.currentCheckpoint(spark, local) === -1L)
  }

  test("a marker that already exists is a successful publish") {
    import spark.implicits._
    val root = freshDir()
    val cells = Seq(("a", 1L)).toDF("k", "v")
    StreamingState.commitAppend(spark, root, 0L, Map("cells" -> cells))
    // a replay racing the first publish writes the epoch again
    StreamingState.commitAppend(spark, root, 0L, Map("cells" -> cells))
    assert(StreamingState.committedEpochs(spark, root) === Seq(0L))
    assert(StreamingState.checkpointDeltas(spark, root, Map("cells" -> schema)) === 0L)
    // a second compaction with nothing new keeps the checkpoint readable
    assert(StreamingState.checkpointDeltas(spark, root, Map("cells" -> schema)) === 0L)
    assert(StreamingState.readCommittedDeltas(spark, root, "cells", schema)
      .count() === 1L)
  }
}
