package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.app.GraftDrop

/** Regression guard for the per-epoch floor of the monthly-drop fold:
  * a later `processDrop` epoch of 150 documents, with planted near-
  * duplicates and quoted passages so that every chain has work, starts
  * at most 21 SQL executions (the sequential fold, with a distributed
  * cluster fold, re-read counts and report rewrites, needs 33).
  * Counted with a QueryExecutionListener on a session of its own.
  */
class DropExecutionGuardSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Marker = "drop_guard_marker"

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

  /** Two drops of 150 documents; 8 of the second are near-copies of a
    * first-drop document and 7 quote 60 of its words verbatim.
    */
  private def drops(): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val rng = new scala.util.Random(7)
    val vocab = (0 until 3000).map(i => s"w$i")
    def text(lo: Int, hi: Int): String =
      Seq.fill(lo + rng.nextInt(hi - lo + 1))(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val first = (0L until 150L).map(i => i -> text(80, 160))
    val second = (150L until 300L).map { i =>
      val k = (i - 150L).toInt
      val src = first(rng.nextInt(first.size))._2.split(" ")
      if (k < 8) i -> src.updated(rng.nextInt(src.length), "changed").mkString(" ")
      else if (k < 15) {
        val at = rng.nextInt(src.length - 60 + 1)
        i -> s"${text(5, 20)} ${src.slice(at, at + 60).mkString(" ")} ${text(5, 20)}"
      } else i -> text(80, 160)
    }
    (first, second)
  }

  test("a later processDrop epoch starts at most 21 SQL executions") {
    spark.sparkContext.setLogLevel("WARN")
    val session = spark.newSession()
    import session.implicits._
    val index = java.nio.file.Files.createTempDirectory("drop_guard").toString
    val (first, second) = drops()
    def batch(docs: Seq[(Long, String)]): DataFrame =
      docs.toDF("doc_id", "text").persist(StorageLevel.MEMORY_AND_DISK)
    val b0 = batch(first)
    GraftDrop.processDrop(b0, index, 0L)
    val b1 = batch(second)
    b1.count()

    val ex = new Executions
    session.listenerManager.register(ex)
    drain(session, ex)
    val c = GraftDrop.processDrop(b1, index, 1L)
    val epoch = drain(session, ex)
    session.listenerManager.unregister(ex)
    assert(c("pairs") >= 8L && c("spans") >= 7L, s"planted work not found: $c")
    assert(epoch.size <= 21, s"epoch 1 ran ${epoch.size}: ${epoch.mkString(", ")}")
    info(s"epoch 1: ${epoch.size} SQL executions: ${epoch.mkString(", ")}")
    b0.unpersist(); b1.unpersist()
  }
}
