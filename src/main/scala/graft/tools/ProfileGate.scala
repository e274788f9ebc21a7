package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Generic gate-query profiler: for each named query (or the N most
  * recently benched), time (a) plan construction + analysis, (b) the
  * executed action — a full `noop`-sink write, so exec_s pays for
  * every output column — and count the jobs / stages / tasks the
  * action schedules. Attribution for the optimization round: a query whose
  * wall time is dominated by job/stage COUNT at tiny SF has a
  * scheduling-shaped cost (extra passes, eager checkpoints, broadcast
  * chains), while one dominated by plan construction needs a smaller
  * expression tree / fewer analysis passes.
  *
  * `build_jobs` counts the jobs started while BUILDING the DataFrame,
  * before any action: above the one parquet-listing job of a first scan
  * over a not-yet-cached table, they mark a builder that trains or
  * collects at plan-construction time — an operator that belongs in
  * `GraftSql.EagerArtifactViews` (t40 = 31, t51/t59 = 6).
  *
  * Usage: runMain graft.tools.ProfileGate <sfDir> [passes] [name ...]
  */
object ProfileGate {

  /** Local property tagging the jobs a DataFrame builder starts. */
  private val Phase = "graft.profile.phase"

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = if (args.length > 1) args(1).toInt else 2
    val names = args.drop(2).toSeq
    val spark = graft.app.Cli.session("graft-profile-gate")

    val jobs = new AtomicInteger
    val buildJobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val verbose = sys.env.get("PROFILE_STAGES").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (Option(j.properties).exists(_.getProperty(Phase) == "build"))
          buildJobs.incrementAndGet()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (verbose) {
          val si = s.stageInfo
          val dur = for {a <- si.completionTime; b <- si.submissionTime} yield a - b
          println(f"    [stage ${si.stageId}%4d] ${dur.getOrElse(-1L)}%6d ms " +
            f"${si.numTasks}%4d tasks  ${si.name.linesIterator.next().take(90)}")
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })

    val all = graft.SparkEntry.queries
    val picked = if (names.nonEmpty) names else all.keys.toSeq.sorted
    println(f"${"query"}%-28s pass ${"plan_s"}%7s ${"exec_s"}%7s ${"build_jobs"}%10s " +
      f"${"jobs"}%5s ${"stg"}%5s ${"task"}%6s ${"taskSec"}%8s")
    picked.foreach { name =>
      all.get(name).foreach { fn =>
        (1 to passes).foreach { p =>
          jobs.set(0); buildJobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
          val t0 = System.nanoTime()
          spark.sparkContext.setLocalProperty(Phase, "build")
          val df = try fn(spark, dir) finally spark.sparkContext.setLocalProperty(Phase, null)
          df.queryExecution.executedPlan // force analysis + physical planning
          val t1 = System.nanoTime()
          // full materialization: `.count()` lets Catalyst prune the
          // projected columns (and whole aggregates) before anything
          // runs, under-reporting exec_s (q35: 0.13 s counted vs 2.34 s
          // materialized); the noop sink computes every output column
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          // listener events are async; give the bus a moment to drain
          Thread.sleep(150)
          println(f"$name%-28s $p%4d ${(t1 - t0) / 1e9}%7.3f ${(t2 - t1) / 1e9}%7.3f " +
            f"${buildJobs.get()}%10d ${jobs.get()}%5d ${stages.get()}%5d ${tasks.get()}%6d ${taskMs.get() / 1e3}%8.2f")
        }
      }
    }
    // PROFILE_RULES=1: dump cumulative Catalyst rule timings — which
    // analyzer/optimizer rules a plan-heavy query actually pays for.
    if (sys.env.get("PROFILE_RULES").contains("1"))
      println(org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent())
    graft.operators.SessionMemo.release(spark)
    spark.stop()
  }
}
