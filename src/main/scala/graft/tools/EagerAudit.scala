// Dev tool: which gate-query BUILDERS run Spark jobs at plan-construction
// time? Those operators must sit in GraftSql.EagerArtifactViews (their view
// registration is not free). Run: sbt "runMain graft.tools.EagerAudit"
//
// Reading the output: many builders show a BASELINE jobs=1 — that is the
// parquet file-listing job of the first scan over a not-yet-cached table,
// not model training. "Eager" for the EagerArtifactViews sense means jobs
// well above that baseline (training collects, fixed-point loops: t40=31,
// t51/t59=6) or a build time far past the listing floor.
package graft.tools

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkEntry

object EagerAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.app.Cli.session("graft-eager-audit")
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
    })
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, build) =>
      val before = jobs.get()
      val t0 = System.nanoTime()
      val outcome =
        try { build(spark, dir); "built" }
        catch { case e: Exception => s"failed: ${e.getMessage.take(60)}" }
      val ms = (System.nanoTime() - t0) / 1e6
      // listener events are async — give stragglers a beat to land
      Thread.sleep(150)
      val ran = jobs.get() - before
      if (ran > 0 || ms > 500)
        println(f"EAGER $name%-28s jobs=$ran%-4d ${ms / 1000}%.2f s  $outcome")
    }
    println("audit done")
    spark.stop()
  }
}
