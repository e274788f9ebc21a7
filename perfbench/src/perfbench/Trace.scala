package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer attribution for a traced iteration.
  *
  * `trace(name) { ... }` records the wall time of one public call into a
  * layer and tags every Spark job started inside it through a
  * SparkContext local property. The job's properties travel with its
  * start event, so a listener charges jobs, task-seconds and shuffle
  * bytes to the span that submitted them, whichever thread did. A
  * query-execution listener adds up the planning phases (analysis,
  * optimization, physical planning) of every action.
  *
  * An untraced recorder registers nothing and only runs the body.
  */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace._

  final class Cost { var jobs = 0L; var taskS = 0.0; var shuffleBytes = 0L }

  val wall = mutable.LinkedHashMap.empty[String, Double]
  private val costs = mutable.HashMap.empty[String, Cost]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private var planMs = 0L
  private var bookkeepingNs = 0L

  private def costOf(span: String): Cost = costs.getOrElseUpdate(span, new Cost)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .getOrElse(Unspanned)
      costOf(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = costOf(stageSpan.getOrElse(e.stageId, Unspanned))
        c.taskS += m.executorRunTime / 1000.0
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized { planMs += qe.tracker.phases.values.map(_.durationMs).sum }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (on) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  /** Run `body` as span `name`; spans must not nest. */
  def apply[T](name: String)(body: => T): T = {
    if (!on) return body
    val sc = spark.sparkContext
    sc.setLocalProperty(Key, name)
    val t0 = System.nanoTime()
    try body
    finally {
      wall(name) = wall.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Key, null)
    }
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = bookkeeping(org.apache.spark.PerfbenchBus.drain(spark.sparkContext))

  /** Run tracing-only work (drains, extra counts); its time is the
    * tracing overhead of the iteration. Untraced, nothing runs.
    */
  def bookkeeping(body: => Unit): Unit = if (on) {
    val t0 = System.nanoTime()
    body
    bookkeepingNs += System.nanoTime() - t0
  }

  def overheadSeconds: Double = bookkeepingNs / 1e9

  /** Planning seconds accumulated so far (call after [[drain]]). */
  def planSeconds: Double = synchronized(planMs / 1000.0)

  /** jobs / task_s / shuffle_mb per span (call after [[drain]]). */
  def costsBySpan: Map[String, (Long, Double, Double)] = synchronized {
    costs.map { case (k, c) => k -> (c.jobs, c.taskS, c.shuffleBytes / 1048576.0) }.toMap
  }

  def close(): Unit = if (on) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }
}

object Trace {
  val Key = "perfbench.span"
  val Unspanned = "unspanned"
}
