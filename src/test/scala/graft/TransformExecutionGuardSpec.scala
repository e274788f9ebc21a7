package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.app.{GraftTransform, RunLog}
import graft.fic.FicLookup
import graft.sources.FicSources

/** Regression guard for the transform stage's bookkeeping: one
  * `transformAndWrite` starts at most 1 SQL execution — the JSON write,
  * whose tasks also tally the counts and the skip list — with and
  * without a run log configured (a separate aggregate needs 2; separate
  * counts and skip-list queries, 4 and 5). Counted with a
  * QueryExecutionListener on a session of its own.
  */
class TransformExecutionGuardSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Marker = "transform_guard_marker"

  /** Names of the finished executions, in listener-bus order. */
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

  test("one transformAndWrite starts at most 1 SQL execution, with and without a run log") {
    spark.sparkContext.setLogLevel("WARN")
    import FicLoadFixture._
    val session = spark.newSession()
    val ex = new Executions
    session.listenerManager.register(ex)
    // one Month2 document is dated outside the folder month: skip-listed
    val dir = folder(Month2)
    val folderName = "json_raw_2025_08"
    drain(session, ex)

    def stage(): Seq[String] = {
      val out = Files.createTempDirectory("transform_guard").toFile
      GraftTransform.transformAndWrite(FicSources.rawJsonFolder(session, dir.toString),
        FicLookup(Nil), out.getPath, folderName).unpersist()
      val skipList = Files.readString(out.toPath.resolve("skip_list.txt"))
      assert(skipList.endsWith("\n\nbancoB_delta_raw.json\n"), skipList)
      drain(session, ex)
    }

    val plain = stage()
    assert(plain.size <= 1, s"without a run log: ${plain.size}: ${plain.mkString(", ")}")

    val logDir = Files.createTempDirectory("transform_guard_log")
    sys.props(RunLog.LogPathProp) = logDir.toString
    val logged = try stage() finally sys.props.remove(RunLog.LogPathProp)
    assert(logged.size <= 1, s"with a run log: ${logged.size}: ${logged.mkString(", ")}")
    val warnings = Files.readString(logDir.resolve("warning.log"))
    assert(warnings.contains("transform: skip-listed bancoB_delta_raw.json"), warnings)
    session.listenerManager.unregister(ex)
  }
}
