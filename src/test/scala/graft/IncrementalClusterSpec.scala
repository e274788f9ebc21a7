package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.IncrementalCluster

/** Incremental cluster/survivor state (r12, VERDICT #3): folding each
  * drop's pairs into persisted component state must converge to the
  * batch t40/t52 answer on the union corpus — verified against a
  * spec-local union-find (the CcCheck discipline: straight-line code
  * sharing nothing with the alternating-star loop) — including drops
  * whose pairs BRIDGE previously-separate clusters; replays are
  * no-ops.
  */
class IncrementalClusterSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).resolve("state").toString

  private def pairsDf(ps: Seq[(Long, Long)]) = {
    import spark.implicits._
    ps.toDF("doc_a", "doc_b")
  }

  private def scoresDf(ss: Seq[(Long, Double)]) = {
    import spark.implicits._
    ss.toDF("doc_id", "score")
  }

  // spec-local union-find: parent-toward-smaller, path halving — the
  // independent oracle for component minimums
  private def ufLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(n => n -> find(n)).toMap
  }

  private def collectMembers(path: String): Map[Long, Long] =
    IncrementalCluster.readMembers(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a drop bridging two clusters converges to the batch answer; survivors re-elected") {
    val path = tmp("cl_bridge")
    // drop 0: {1,2} and {7,8} — two separate clusters
    val c0 = IncrementalCluster.update(spark, path, 0L,
      pairsDf(Seq((1L, 2L), (7L, 8L))),
      scoresDf(Seq(1L -> 0.5, 2L -> 0.9, 7L -> 0.7, 8L -> 0.6)))
    assert(collectMembers(path) === Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L))
    val s0 = IncrementalCluster.readSurvivors(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // cluster 1: doc 2 wins on score; cluster 7: doc 7 wins
    assert(s0 === Set((1L, 2L, 2L), (7L, 7L, 2L)))
    assert(c0.labelChanges.count() === 4) // all four docs newly labeled

    // drop 1: doc 5 bridges 2 and 7 — everything merges into label 1
    val c1 = IncrementalCluster.update(spark, path, 1L,
      pairsDf(Seq((2L, 5L), (5L, 7L))), scoresDf(Seq(5L -> 0.95)))
    val expect = ufLabels(Seq((1L, 2L), (7L, 8L), (2L, 5L), (5L, 7L)))
    assert(collectMembers(path) === expect)
    assert(expect.values.toSet === Set(1L))
    // survivor of the merged cluster: doc 5 (highest score 0.95);
    // the absorbed cluster 7's row is gone
    val s1 = IncrementalCluster.readSurvivors(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(s1 === Set((1L, 5L, 5L)))
    // change report: 7 and 8 relabeled 7→1, 5 newly labeled; 1 and 2
    // keep label 1 (no rows)
    val lc = c1.labelChanges.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2))).toSet
    assert(lc === Set((5L, -1L, 1L), (7L, 7L, 1L), (8L, 7L, 1L)))
    val sc = c1.survivorChanges.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getLong(2))).toSet
    assert(sc === Set((1L, 2L, 5L)))

    // replay of drop 1: same report back, state untouched
    val replay = IncrementalCluster.update(spark, path, 1L,
      pairsDf(Seq((2L, 5L), (5L, 7L))), scoresDf(Seq(5L -> 0.95)))
    assert(replay.labelChanges.collect().map(_.getLong(0)).sorted.toSeq
      === Seq(5L, 7L, 8L))
    assert(collectMembers(path) === expect)

    // a drop touching NOTHING: empty report, state carried over
    val c2 = IncrementalCluster.update(spark, path, 2L,
      pairsDf(Seq.empty), scoresDf(Seq(99L -> 0.1)))
    assert(c2.labelChanges.count() === 0 && c2.survivorChanges.count() === 0)
    assert(collectMembers(path) === expect)
  }

  test("per-epoch writes are change-bounded, not state-bounded; compaction preserves resolution") {
    val path = tmp("cl_delta")
    // drop 0: one large component {1..10} and one unrelated pair {100,101}
    val bigChain = (1L until 10L).map(i => (i, i + 1))
    IncrementalCluster.update(spark, path, 0L,
      pairsDf(bigChain :+ ((100L, 101L))),
      scoresDf((1L to 10L).map(i => i -> i * 0.01) ++ Seq(100L -> 0.5, 101L -> 0.6)))
    // drop 1 touches ONLY the 2-doc component: its epoch delta must
    // hold the affected component's rows (3 docs after 102 joins),
    // never the 12-doc state (the r12 layout rewrote all 12 per drop)
    IncrementalCluster.update(spark, path, 1L,
      pairsDf(Seq((101L, 102L))), scoresDf(Seq(102L -> 0.7)))
    val epoch1Members = spark.read
      .parquet(graft.streaming.StreamingState.epochRel(path, 1L, "members"))
    assert(epoch1Members.count() === 3,
      "epoch 1 member delta must cover only the touched component")
    assert(epoch1Members.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(100L, 101L, 102L))
    val epoch1Surv = spark.read
      .parquet(graft.streaming.StreamingState.epochRel(path, 1L, "survivors"))
    assert(epoch1Surv.count() === 1) // re-election of cluster 100, no tombstone
    // resolved views still cover the full state
    assert(collectMembers(path).keySet === (1L to 10L).toSet ++ Set(100L, 101L, 102L))

    // compaction folds the delta log into one copy; resolution unchanged
    val before = collectMembers(path)
    val survBefore = IncrementalCluster.readSurvivors(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    IncrementalCluster.compact(spark, path)
    assert(collectMembers(path) === before)
    assert(IncrementalCluster.readSurvivors(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === survBefore)
    // r14 (VERDICT #1): the compacted copy holds the RESOLVED rows,
    // not the verbatim delta union — 13 current members, not the 15
    // delta rows (12 + 3) the log accumulated
    val cp0 = graft.streaming.StreamingState.currentCheckpoint(spark, path)
    assert(spark.read.parquet(s"$path/compact-$cp0/members").count() === 13L,
      "compacted members must be resolved-state-sized, not delta-log-sized")
    assert(spark.read.parquet(s"$path/compact-$cp0/survivors").count() === 2L)

    // post-compaction drops keep folding correctly
    IncrementalCluster.update(spark, path, 2L,
      pairsDf(Seq((10L, 100L))), scoresDf(Seq.empty))
    val expect = ufLabels(bigChain ++ Seq((100L, 101L), (101L, 102L), (10L, 100L)))
    assert(collectMembers(path) === expect)

    // drop 2 merged cluster 100 away (tombstone row in its epoch); a
    // second compaction must physically DROP the tombstone and every
    // superseded relabel row: 13 member rows, 1 live survivor row,
    // zero null-survivor rows on disk
    import org.apache.spark.sql.functions.col
    val survAfterMerge = IncrementalCluster.readSurvivors(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    IncrementalCluster.compact(spark, path)
    val cp1 = graft.streaming.StreamingState.currentCheckpoint(spark, path)
    assert(cp1 === 2L)
    val cm = spark.read.parquet(s"$path/compact-$cp1/members")
    val cs = spark.read.parquet(s"$path/compact-$cp1/survivors")
    assert(cm.count() === 13L, "stale relabel rows survived compaction")
    assert(cm.select("doc_id").distinct().count() === 13L)
    assert(cs.count() === 1L, "dead survivor rows survived compaction")
    assert(cs.filter(col("survivor_id").isNull).count() === 0L,
      "tombstones must be physically dropped by compaction")
    assert(collectMembers(path) === expect)
    assert(IncrementalCluster.readSurvivors(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === survAfterMerge)
    // and folds after the second compaction still work
    IncrementalCluster.update(spark, path, 3L,
      pairsDf(Seq((200L, 201L))), scoresDf(Seq(200L -> 0.3, 201L -> 0.4)))
    assert(collectMembers(path) === expect ++ Map(200L -> 200L, 201L -> 200L))
  }

  test("readers never create state: reading a nonexistent path leaves nothing on disk") {
    val path = tmp("cl_ro")
    assert(IncrementalCluster.readMembers(spark, path).count() === 0L)
    assert(IncrementalCluster.readSurvivors(spark, path).count() === 0L)
    assert(!new java.io.File(path).exists(),
      "a pure read mkdir'd the state root (r13 ADVICE regression)")
    // the writer stamps; readers then see the marker
    IncrementalCluster.update(spark, path, 0L,
      pairsDf(Seq((1L, 2L))), scoresDf(Seq(1L -> 0.1, 2L -> 0.2)))
    assert(new java.io.File(s"$path/_graft_format_version").exists())
    assert(collectMembers(path) === Map(1L -> 1L, 2L -> 1L))
  }

  test("randomized multi-drop folds converge to the union-find answer; survivors match direct election") {
    for (seed <- Seq(11, 42)) {
      val rnd = new scala.util.Random(seed)
      val path = tmp(s"cl_rand_$seed")
      // ~35 random edges over 30 nodes, random scores, split into 4 drops
      val nodes = (0L until 30L)
      val edges = Seq.fill(35) {
        val a = nodes(rnd.nextInt(30)); var b = nodes(rnd.nextInt(30))
        while (b == a) b = nodes(rnd.nextInt(30))
        (math.min(a, b), math.max(a, b))
      }.distinct
      val score = nodes.map(n => n -> (rnd.nextInt(1000) / 1000.0)).toMap
      val drops = edges.zipWithIndex.groupBy(_._2 % 4)
        .view.mapValues(_.map(_._1)).toMap
      for (b <- 0 to 3) {
        val es = drops.getOrElse(b, Seq.empty)
        val ids = es.flatMap(e => Seq(e._1, e._2)).distinct
        IncrementalCluster.update(spark, path, b.toLong,
          pairsDf(es), scoresDf(ids.map(i => i -> score(i))))
      }
      val expect = ufLabels(edges)
      assert(collectMembers(path) === expect, s"seed $seed labels diverged")
      // survivors: direct election per component over the same scores
      val expectSurv = expect.groupBy(_._2).map { case (label, ms) =>
        val members = ms.keys.toSeq
        val winner = members.maxBy(d => (score(d), -d))
        (label, winner, members.size.toLong)
      }.toSet
      val got = IncrementalCluster.readSurvivors(spark, path)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expectSurv, s"seed $seed survivors diverged")
    }
  }

  test("a fold above MaxFoldRows throws with the count and the cap, and commits nothing") {
    val path = tmp("cl_cap")
    IncrementalCluster.update(spark, path, 0L,
      pairsDf(Seq((1L, 2L))), scoresDf(Seq(1L -> 0.1, 2L -> 0.2)))
    val cap = IncrementalCluster.MaxFoldRows
    val pairs = spark.range(cap.toLong + 1L)
      .selectExpr("id * 2 + 10 as doc_a", "id * 2 + 11 as doc_b")
    val e = intercept[IllegalStateException](
      IncrementalCluster.update(spark, path, 1L, pairs, scoresDf(Seq.empty)))
    assert(e.getMessage.contains(s"collected ${cap + 1} rows"), e.getMessage)
    assert(e.getMessage.contains(s"MaxFoldRows = $cap"), e.getMessage)
    assert(!graft.streaming.StreamingState.isCommitted(spark, path, 1L))
    assert(!graft.streaming.StreamingState.exists(spark,
      graft.streaming.StreamingState.epochRel(path, 1L, "members")))
    assert(collectMembers(path) === Map(1L -> 1L, 2L -> 1L))
  }
}
