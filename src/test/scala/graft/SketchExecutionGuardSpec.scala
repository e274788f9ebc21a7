package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{StreamingCms, StreamingQuantile}

/** Regression guard for the sketch fold: a later `StreamingCms` or
  * `StreamingQuantile` batch starts exactly one SQL execution, the
  * write of the merged state. Replay detection reads the epoch marker,
  * so no job probes or rewrites a ledger of applied batch ids (the
  * ledger-era fold ran three: the probe, the state write and the ledger
  * write). Counted with a QueryExecutionListener on a session of its
  * own.
  */
class SketchExecutionGuardSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Marker = "sketch_guard_marker"

  private final class Executions extends QueryExecutionListener {
    val names = new ConcurrentLinkedQueue[String]()
    private def record(name: String, qe: QueryExecution): Unit =
      names.add(if (qe.analyzed.output.exists(_.name == Marker)) Marker else name)
    def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = record(name, qe)
    def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = record(name, qe)
  }

  /** Executions finished since the last call (see LoadExecutionGuardSpec). */
  private def drain(session: SparkSession, ex: Executions): Seq[String] = {
    session.range(1).toDF(Marker).collect()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!ex.names.contains(Marker) && System.nanoTime() < deadline) Thread.sleep(20)
    assert(ex.names.contains(Marker), "listener bus did not deliver the marker")
    Iterator.continually(ex.names.poll()).takeWhile(_ != Marker).toList
  }

  /** SQL executions of `later`, run after `first` on the same root. */
  private def executions(session: SparkSession)(first: String => Boolean)
      (later: String => Boolean): Seq[String] = {
    val root = java.nio.file.Files.createTempDirectory("sketch_guard").toString
    assert(first(root))
    val ex = new Executions
    session.listenerManager.register(ex)
    drain(session, ex)
    assert(later(root))
    val run = drain(session, ex)
    session.listenerManager.unregister(ex)
    run
  }

  test("a later CMS or quantile batch starts one SQL execution") {
    spark.sparkContext.setLogLevel("WARN")
    val session = spark.newSession()
    import session.implicits._
    val docs = (0 until 2).map(i =>
      (0 until 40).map(j => (s"d$i-$j", s"w${j % 7} w${j % 11} w${(i + j) % 5}"))
        .toDF("doc_id", "text"))
    val cms = executions(session)(StreamingCms.applyBatch(docs(0), _, 0L))(
      StreamingCms.applyBatch(docs(1), _, 1L))
    assert(cms.size === 1, s"CMS batch 1 ran ${cms.size}: ${cms.mkString(", ")}")

    val rows = (0 until 2).map(i =>
      (0 until 40).map(j => (if (j % 2 == 0) "app" else "web", (i * 40L + j) * 65537L))
        .toDF("src", "cents"))
    def quantile(i: Int)(root: String): Boolean =
      StreamingQuantile.applyBatch(rows(i), root, col("src"), col("cents"), i.toLong)
    val qs = executions(session)(quantile(0))(quantile(1))
    assert(qs.size === 1, s"quantile batch 1 ran ${qs.size}: ${qs.mkString(", ")}")
  }
}
