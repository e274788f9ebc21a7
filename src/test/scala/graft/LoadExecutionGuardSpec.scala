package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.app.{GraftLoad, GraftTransformLoad}

/** Regression guard for the one-pass load: one `GraftLoad.run` starts
  * at most 1 SQL execution, the load job, on the insert path and on the
  * replace path (a per-table load needs 10 and 21; a DataFrame merge
  * before the job, 2). The snapshot is a plain JDBC read, also when a
  * fused month starts it beside its transform: the month stays at 2,
  * the JSON write and the load. Counted with a QueryExecutionListener
  * on a session of its own.
  */
class LoadExecutionGuardSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Marker = "load_guard_marker"

  /** Names of the finished executions, in listener-bus order. */
  private final class Executions extends QueryExecutionListener {
    val names = new ConcurrentLinkedQueue[String]()
    private def record(name: String, qe: QueryExecution): Unit =
      names.add(if (qe.analyzed.output.exists(_.name == Marker)) Marker else name)
    def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = record(name, qe)
    def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = record(name, qe)
  }

  /** Executions finished since the last call: a marker query goes
    * through the same listener bus after them, so once it is seen every
    * earlier execution has been reported.
    */
  private def drain(session: SparkSession, ex: Executions): Seq[String] = {
    session.range(1).toDF(Marker).collect()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!ex.names.contains(Marker) && System.nanoTime() < deadline) Thread.sleep(20)
    assert(ex.names.contains(Marker), "listener bus did not deliver the marker")
    Iterator.continually(ex.names.poll()).takeWhile(_ != Marker).toList
  }

  test("one GraftLoad.run starts at most 1 SQL execution on the insert and replace paths") {
    spark.sparkContext.setLogLevel("WARN")
    import FicLoadFixture._
    val session = spark.newSession()
    val ex = new Executions
    session.listenerManager.register(ex)
    val url = "jdbc:derby:memory:loadGuard;create=true"
    // cached, as the transform stage hands its frame to the load
    val m1 = transformed(session, folder(Month1)).cache()
    val m2 = transformed(session, folder(Month2)).cache()
    drain(session, ex)

    GraftLoad.run(session, m1, url)
    val insert = drain(session, ex)
    assert(insert.contains("foreachPartition"), s"no load execution seen: $insert")
    assert(insert.size <= 1, s"insert path ran ${insert.size}: ${insert.mkString(", ")}")

    GraftLoad.run(session, m2, url)
    val replace = drain(session, ex)
    assert(replace.size <= 1, s"replace path ran ${replace.size}: ${replace.mkString(", ")}")
    session.listenerManager.unregister(ex)
  }

  test("one fused GraftTransformLoad month starts at most 2 SQL executions") {
    spark.sparkContext.setLogLevel("WARN")
    import FicLoadFixture._
    val session = spark.newSession()
    val ex = new Executions
    session.listenerManager.register(ex)
    val url = "jdbc:derby:memory:fusedLoadGuard;create=true"
    drain(session, ex)
    Seq(Month1, Month2).foreach { month =>
      val out = Files.createTempDirectory("fused_guard").toString
      GraftTransformLoad.run(session, folder(month).toString, out, url, None)
      val ran = drain(session, ex)
      assert(ran.size <= 2, s"fused month ran ${ran.size}: ${ran.mkString(", ")}")
    }
    session.listenerManager.unregister(ex)
  }
}
