package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.app.GraftDrop
import graft.llm.{LlmOperators, StubEmbedder}
import graft.streaming.{IncrementalAnn, IncrementalCluster, IncrementalDedup,
  IncrementalQuality, IncrementalSpanIndex}

/** drop_epochs: K monthly drops through the incremental `graft-drop`
  * state. Per drop the run does what `GraftDrop.main` does: add the
  * drop file to the input folder, drain it with `GraftDrop.run`
  * (AvailableNow stream over a checkpoint), then
  * `GraftDrop.maybeCompact(…, K)` — so the last epoch also compacts
  * every index.
  *
  * Traced, the stream runs the steps of `GraftDrop.processDrop` in the
  * same order, each inside a span. The per-epoch pair, span and
  * neighbor counts of both variants must agree.
  */
object DropEpochs {

  def run(spark: SparkSession, tr: Trace, in: String, work: String): Iteration = {
    val drops = new File(in).listFiles().map(_.getName)
      .filter(_.endsWith(".jsonl")).sorted
    val inbox = new File(s"$work/in")
    inbox.mkdirs()
    val index = s"$work/index"
    val it = new Iteration
    drops.zipWithIndex.foreach { case (d, e) =>
      Files.copy(new File(in, d).toPath, new File(inbox, d.stripSuffix("l")).toPath,
        StandardCopyOption.REPLACE_EXISTING)
      val t0 = System.nanoTime()
      if (tr.on) tracedRun(spark, tr, inbox.getPath, index, it)
      else GraftDrop.run(spark, inbox.getPath, index)
      val t1 = System.nanoTime()
      tr("app.compact") { GraftDrop.maybeCompact(spark, index, drops.length) }
      val t2 = System.nanoTime()
      it.add("epoch_runs", (t1 - t0) / 1e9)
      it.add("epochs", (t2 - t0) / 1e9)
      it.attempted += 1
      // checks, outside the timed region: the epoch's committed reports
      Seq("pairs", "spans", "neighbors").foreach { r =>
        it.results(s"epoch$e.$r") = spark.read.parquet(s"$index/reports/$r/batch=$e").count()
      }
    }
    it.wall = it.series("epochs").sum
    it.items = drops.map { d =>
      val src = scala.io.Source.fromFile(new File(in, d))
      try src.getLines().count(_.nonEmpty).toLong finally src.close()
    }.sum
    if (tr.on) it.addLayer("trace.drop_steps_s", tr.wall.filter(_._1 != "app.compact").values.sum)
    it.results("streaming.state_bytes") = Seq("dedup", "spans", "ann", "clusters", "quality")
      .map(r => du(new File(s"$index/$r"))).sum
    it
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else f.length()

  /** `GraftDrop.run` with the steps of `GraftDrop.processDrop` spanned. */
  private def tracedRun(spark: SparkSession, tr: Trace, in: String, index: String,
      it: Iteration): Unit = {
    val docs = spark.readStream.schema(GraftDrop.dropSchema)
      .option("pathGlobFilter", "*.json").option("maxFilesPerTrigger", 100).json(in)
    val query = docs.writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$index/checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.persist(StorageLevel.MEMORY_AND_DISK)
        processDrop(tr, b, index, id)
        b.unpersist()
        ()
      }.start()
    query.awaitTermination()
  }

  private def processDrop(tr: Trace, b: DataFrame, index: String, id: Long): Unit = {
    val text = b.select(col("doc_id"), col("text"))
    val pairs = tr("streaming.dedup") {
      val p = IncrementalDedup.processBatch(text, s"$index/dedup", id, 0.5, false)
      p.count()
      p
    }
    tr("app.reports") { pairs.write.mode("overwrite").parquet(s"$index/reports/pairs/batch=$id") }
    val cl = tr("streaming.cluster") {
      val endpointScores = pairs.select(col("doc_a").as("doc_id"), col("score_a").as("score"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"), col("score_b").as("score")))
        .distinct()
      val c = IncrementalCluster.update(b.sparkSession, s"$index/clusters", id, pairs, endpointScores)
      c.labelChanges.count()
      c
    }
    tr("app.reports") {
      cl.labelChanges.write.mode("overwrite").parquet(s"$index/reports/cluster_labels/batch=$id")
      cl.survivorChanges.write.mode("overwrite").parquet(s"$index/reports/cluster_survivors/batch=$id")
    }
    val spans = tr("streaming.span") {
      val s = IncrementalSpanIndex.processBatch(text, s"$index/spans", id)
      s.count()
      s
    }
    tr("app.reports") { spans.write.mode("overwrite").parquet(s"$index/reports/spans/batch=$id") }
    val topk = tr("streaming.ann") {
      val vecs = LlmOperators.embed(text, new StubEmbedder(), backoffMs = _ => 0L)
        .filter(col("error").isNull)
        .select(col("doc_id").as("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
      val t = IncrementalAnn.processBatch(vecs, s"$index/ann", id, IncrementalAnn.Config())
      t.count()
      t
    }
    tr("app.reports") { topk.write.mode("overwrite").parquet(s"$index/reports/neighbors/batch=$id") }
    tr("streaming.quality") {
      val q = IncrementalQuality.processBatch(b, s"$index/quality", id,
        IncrementalQuality.dropRules, Nil)
      q.filter(!col("pass") && col("severity") === "invariant").count()
      q.filter(!col("pass") && col("severity") === "screen").count()
    }
  }
}
