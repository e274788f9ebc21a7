package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.{Analytics, CurationOps, DataLayout, Expectations, FicGate,
  GateQuery, MediaGate, Relational, Scalar, TextOps, TrainingOps, VectorOps}

/** The gate suite: operator gates run once each, in a fresh session
  * (empty session memos), every gate writing its full output as parquet
  * for the oracle check. Each gate is charged to its operator pack;
  * traced, every gate is a span of its pack, split into planning and
  * the rest.
  */
object GateSuite {
  val Packs: Seq[(String, Seq[GateQuery])] = Seq(
    "Relational" -> Relational.all, "Scalar" -> Scalar.all,
    "Analytics" -> Analytics.all, "TextOps" -> TextOps.all,
    "TrainingOps" -> TrainingOps.all, "CurationOps" -> CurationOps.all,
    "VectorOps" -> VectorOps.all, "FicGate" -> FicGate.all,
    "MediaGate" -> MediaGate.all, "DataLayout" -> DataLayout.all,
    "Expectations" -> Expectations.all)

  def select(names: Seq[String]): Seq[(String, GateQuery)] = {
    val byName = Packs.flatMap { case (p, qs) => qs.map(q => q.name -> (p, q)) }.toMap
    names.map(n => byName.getOrElse(n, sys.error(s"unknown gate $n")))
  }

  def run(spark: SparkSession, tr: Trace, corpus: String, work: String,
      gates: Seq[(String, GateQuery)]): Iteration = {
    val it = new Iteration
    val t0 = System.nanoTime()
    gates.foreach { case (pack, q) =>
      var build, writePlan = 0.0
      val g0 = System.nanoTime()
      val ok = try {
        tr(s"operators.$pack.cold") {
          val df = q.build(spark, corpus)
          build = (System.nanoTime() - g0) / 1e9
          tr.drain()
          val plan0 = tr.planSeconds
          df.write.mode("overwrite").parquet(s"$work/out/${q.name}")
          tr.drain()
          writePlan = tr.planSeconds - plan0
        }
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] gate ${q.name} failed: $e")
        false
      }
      val s = (System.nanoTime() - g0) / 1e9
      it.attempted += 1
      if (!ok) it.failed += 1
      else {
        it.add("gates", s)
        // planning: building the DataFrame (eager analysis, and any
        // session memo it fills) plus the write's planning phases
        it.addLayer(s"operators.$pack.plan_s", build + writePlan)
        it.addLayer(s"operators.$pack.exec_s", s - build - writePlan)
      }
    }
    it.wall = (System.nanoTime() - t0) / 1e9
    // for the oracle check, outside the timed region
    val oracles = SparkEntry.oracleSql
    val json = gates.map(_._2.name).filter(oracles.contains)
      .map(n => Json.str(n) + ":" + Json.str(oracles(n))).mkString("{", ",", "}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$work/out"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/out/oracle_sql.json"), json)
    it
  }
}
