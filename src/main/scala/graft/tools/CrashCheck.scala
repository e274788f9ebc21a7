package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.app.GraftDrop
import graft.streaming.{IncrementalAnn, IncrementalCluster, IncrementalDedup,
  IncrementalQuality, IncrementalSpanIndex}

/** Kill-anywhere crash differential for the COMPOSED graft-drop fold
  * (r14, VERDICT #3): the per-index crash specs
  * (IncrementalCommitSpec) prove each index's epoch commit is atomic
  * in isolation, and tools/DropCheck proves steady-state equality —
  * this tool closes the gap between them by killing the WIRED step
  * graph — the four concurrent chains dedup → {pairs report, cluster
  * → cluster reports}, span → spans report, ann → neighbors report and
  * quality — at seeded-random points, replaying, and requiring every
  * state and report stream to equal an uninterrupted run's.
  *
  * Per drop, on the crashing root:
  *
  *  1. draw a seeded cut of each of [[GraftDrop.chains]] (0 = nothing
  *     of that chain ran) and run [[GraftDrop.processDrop]] on exactly
  *     those steps — the between-steps kill. Every prefix of the old
  *     sequential nine-step order is one such set of cuts, so every
  *     state the sequential fold could crash in stays reachable;
  *  2. plant a junk file inside the NEXT step's target directory of
  *     each cut chain (an index epoch dir with no commit marker, or a
  *     report partition dir) — the mid-write kill: torn output that
  *     must be invisible to readers and overwritten by recovery;
  *  3. optionally (seeded coin) crash the RECOVERY itself the same
  *     way — a second, later cut per chain + junk plants;
  *  4. replay the batch id to completion, exactly as the streaming
  *     checkpoint restart would before admitting the next file batch.
  *
  * After all drops, every public read surface must equal the
  * uninterrupted root's, row-for-row via symmetric exceptAll (no
  * collect — state-sized relations compare distributed): dedup
  * signatures, cluster members + survivors, span windows, ANN
  * vectors, the quality trend + volume profile + totals, and all five
  * per-batch report streams (pairs, cluster labels/survivors, spans,
  * neighbors). `runMain graft.tools.CrashCheck <dir> [drops] [seed]`;
  * exit 1 on any divergence. CrashCheckSpec runs it at sf0.01 in CI.
  */
object CrashCheck {

  /** Where a mid-write kill of each step leaves torn output: the
    * step's target dir, pre-marker (index commits) or pre-overwrite
    * (report copies).
    */
  private def junkTarget(root: String, step: String, id: Long): String =
    step match {
      case "dedup_commit"      => s"$root/dedup/epoch-$id/index"
      case "pairs_report"      => s"$root/reports/pairs/batch=$id"
      case "cluster_commit"    => s"$root/clusters/epoch-$id/members"
      case "cluster_reports"   => s"$root/reports/cluster_labels/batch=$id"
      case "span_commit"       => s"$root/spans/epoch-$id/windows"
      case "spans_report"      => s"$root/reports/spans/batch=$id"
      case "ann_commit"        => s"$root/ann/state/epoch-$id/vectors"
      case "neighbors_report"  => s"$root/reports/neighbors/batch=$id"
      case "quality_commit"    => s"$root/quality/epoch-$id/report"
    }

  /** The epoch-layout root whose `commits/` log must already exist for
    * a mid-write crash of this step to be a REACHABLE state: every
    * index writer stamps its version marker and creates the commit log
    * BEFORE any relation write, so torn epoch content can only coexist
    * with an initialized layout. Report-copy steps have no
    * preconditions (overwrite dirs).
    */
  private def indexRootOf(root: String, step: String): Option[String] =
    step match {
      case "dedup_commit"   => Some(s"$root/dedup")
      case "cluster_commit" => Some(s"$root/clusters")
      case "span_commit"    => Some(s"$root/spans")
      case "ann_commit"     => Some(s"$root/ann/state")
      case "quality_commit" => Some(s"$root/quality")
      case _                => None
    }

  /** Simulate the mid-write kill of `step`: a torn non-parquet file in
    * its target dir. Skipped (returns false) when the state it would
    * leave is unreachable — an index epoch dir on a root whose layout
    * was never initialized; the between-steps kill covers that case.
    */
  private def plantJunk(spark: SparkSession, root: String, step: String,
      id: Long): Boolean = {
    val reachable = indexRootOf(root, step).forall(idx =>
      graft.streaming.StreamingState.exists(spark, s"$idx/commits"))
    if (!reachable) return false
    val dir = junkTarget(root, step, id)
    val fs = graft.streaming.StreamingState.fsFor(spark, dir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/part-torn-write.txt")
    val out = fs.create(p, true)
    try out.write("torn mid-write garbage, not parquet".getBytes("UTF-8"))
    finally out.close()
    true
  }

  private def diff(what: String, a: DataFrame, b: DataFrame,
      err: String => Unit): Unit = {
    val aOnly = a.exceptAll(b).count()
    val bOnly = b.exceptAll(a).count()
    if (aOnly != 0L || bOnly != 0L)
      err(s"$what diverged: $aOnly rows only in crashed run, " +
        s"$bOnly only in uninterrupted run")
  }

  def check(spark: SparkSession, dir: String, drops: Int = 4,
      seed: Long = 42L, maxErrs: Int = 20): Seq[String] = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    def err(m: String): Unit = if (errs.size < maxErrs) { errs += m; () }
    val rng = new scala.util.Random(seed)
    val chains = GraftDrop.chains
    def stepsOf(cut: Seq[Int]): Set[String] =
      chains.zip(cut).flatMap { case (c, k) => c.take(k) }.toSet
    // torn write in the next step of each cut chain; names what landed
    def tear(root: String, cut: Seq[Int], id: Long): Seq[String] =
      chains.zip(cut).collect {
        case (c, k) if k < c.size && plantJunk(spark, root, c(k), id) => c(k)
      }
    def show(cut: Seq[Int]): String =
      chains.zip(cut).map { case (c, k) => s"${c.head.stripSuffix("_commit")} $k/${c.size}" }
        .mkString(", ")
    val base = java.nio.file.Files.createTempDirectory("crashcheck").toString
    val crashed = s"$base/crashed"
    val clean = s"$base/clean"
    try {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val kills = scala.collection.mutable.ArrayBuffer.empty[String]
      for (i <- 0 until drops) {
        val batch = docs.filter(pmod(col("doc_id"), lit(drops)) === i)
        // crashing root: a seeded cut per chain + torn writes
        val cut = chains.map(c => rng.nextInt(c.size + 1))
        GraftDrop.processDrop(batch, crashed, i.toLong, steps = stepsOf(cut))
        val torn = tear(crashed, cut, i.toLong)
        var killLog = s"drop $i: killed at ${show(cut)}" +
          (if (torn.nonEmpty) s" (${torn.mkString(", ")} torn)" else "")
        // seeded coin: crash the recovery too, at a later cut per chain
        if (cut.zip(chains).exists { case (k, c) => k < c.size } && rng.nextBoolean()) {
          val cut2 = chains.zip(cut).map { case (c, k) => k + rng.nextInt(c.size + 1 - k) }
          GraftDrop.processDrop(batch, crashed, i.toLong, steps = stepsOf(cut2))
          tear(crashed, cut2, i.toLong)
          killLog += s", recovery killed at ${show(cut2)}"
        }
        // the replay the streaming restart performs before batch i+1
        GraftDrop.processDrop(batch, crashed, i.toLong)
        kills += killLog
        // uninterrupted root
        GraftDrop.processDrop(batch, clean, i.toLong)
        ()
      }
      kills.foreach(k => println(s"[crash-check] $k"))

      diff("dedup index", IncrementalDedup.readIndex(spark, s"$crashed/dedup"),
        IncrementalDedup.readIndex(spark, s"$clean/dedup"), err)
      diff("cluster members",
        IncrementalCluster.readMembers(spark, s"$crashed/clusters"),
        IncrementalCluster.readMembers(spark, s"$clean/clusters"), err)
      diff("cluster survivors",
        IncrementalCluster.readSurvivors(spark, s"$crashed/clusters"),
        IncrementalCluster.readSurvivors(spark, s"$clean/clusters"), err)
      diff("span windows",
        IncrementalSpanIndex.readIndex(spark, s"$crashed/spans"),
        IncrementalSpanIndex.readIndex(spark, s"$clean/spans"), err)
      diff("ann vectors", IncrementalAnn.readIndex(spark, s"$crashed/ann"),
        IncrementalAnn.readIndex(spark, s"$clean/ann"), err)
      diff("quality trend",
        IncrementalQuality.readTrend(spark, s"$crashed/quality"),
        IncrementalQuality.readTrend(spark, s"$clean/quality"), err)
      diff("quality profile",
        IncrementalQuality.readProfile(spark, s"$crashed/quality"),
        IncrementalQuality.readProfile(spark, s"$clean/quality"), err)
      diff("quality totals",
        IncrementalQuality.readTotals(spark, s"$crashed/quality"),
        IncrementalQuality.readTotals(spark, s"$clean/quality"), err)
      Seq("pairs", "cluster_labels", "cluster_survivors", "spans", "neighbors")
        .foreach { rep =>
          diff(s"reports/$rep",
            spark.read.parquet(s"$crashed/reports/$rep"),
            spark.read.parquet(s"$clean/reports/$rep"), err)
        }
      if (errs.isEmpty) {
        val nPairs = spark.read.parquet(s"$clean/reports/pairs").count()
        val nSpans = spark.read.parquet(s"$clean/reports/spans").count()
        val nNeighbors = spark.read.parquet(s"$clean/reports/neighbors").count()
        println(s"[crash-check] $dir drops=$drops seed=$seed verified: " +
          s"all five states + report streams equal after kill-anywhere replay " +
          s"($nPairs pairs, $nSpans spans, $nNeighbors neighbor rows)")
      }
      errs.toSeq
    } finally {
      graft.streaming.StreamingState.fsFor(spark, base)
        .delete(new org.apache.hadoop.fs.Path(base), true)
      graft.operators.SessionMemo.release(spark)
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val drops = args.lift(1).map(_.toInt).getOrElse(4)
    val seed = args.lift(2).map(_.toLong).getOrElse(42L)
    val spark = graft.app.Cli.session("graft-crash-check")
    val errs = check(spark, dir, drops, seed)
    errs.foreach(e => System.err.println(s"[crash-check] DIVERGED: $e"))
    if (errs.nonEmpty) sys.exit(1)
  }
}
