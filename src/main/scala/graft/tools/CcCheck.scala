package graft.tools

import org.apache.spark.sql.SparkSession
import graft.operators.{TextOps, TrainingOps}

/** Independent verification of the t40/t52 connected-components
  * results (r11, VERDICT #2): at sf10 the DuckDB recursive-CTE oracle
  * exhausts >75 GB of spill disk computing transitive closure, so the
  * components artifact was the one heavy result no oracle had
  * confirmed at scale. The near-dup EDGE LIST, however, is
  * near-dup-bounded (≈26k pairs at sf1, ~10× that at sf10) — small
  * enough to collect — so the fixed point can be checked exactly by a
  * code-independent driver-side union-find (the BpeReference
  * discipline: a straight-line reimplementation sharing no code with
  * the distributed loop), then compared row-for-row against both
  * gates:
  *
  *  - t40: every (doc_id → cluster_id) label must equal the
  *    component MINIMUM from the union-find, cluster sizes must
  *    match, is_canonical must mark exactly the minimum;
  *  - t52: per cluster (including score-bearing singletons), the
  *    survivor must be the member maximizing (score, -doc_id) over
  *    the exact scores the gate used, with the right cluster_size;
  *  - t78 (r11): every document's cluster representative, naive and
  *    cluster split (md5 first-byte bucket, reimplemented from the
  *    definition), and leak flag — its oracle is the same recursive
  *    CTE that dies at sf10, so the independent check covers it too.
  *
  * Run: runMain graft.tools.CcCheck <dir>   (exit 1 on any mismatch)
  * CcCheckSpec runs the same check at sf0.1 in CI.
  */
object CcCheck {

  /** Returns mismatch descriptions; empty = both gates verified. */
  def check(spark: SparkSession, dir: String, maxErrs: Int = 20): Seq[String] = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    def err(m: => String): Unit = if (errs.size < maxErrs) { errs += m; () }

    // 1. collect the near-dup edge list and union-find it
    val edges = TextOps.nearDupEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dsu = new Dsu
    val nodeSet = scala.collection.mutable.Set.empty[Long]
    edges.foreach { case (u, v) => dsu.union(u, v); nodeSet += u; nodeSet += v }
    // component min per root: union() always parents toward the
    // smaller id, so find(x) IS the component minimum; assert that
    // independently anyway via an explicit min pass
    val minOf = scala.collection.mutable.LongMap.empty[Long]
    nodeSet.foreach { n =>
      val r = dsu.find(n)
      minOf(r) = math.min(minOf.getOrElse(r, Long.MaxValue), n)
    }
    val expectLabel = nodeSet.iterator.map(n => n -> minOf(dsu.find(n))).toMap
    val expectSize = expectLabel.groupBy(_._2).view.mapValues(_.size.toLong).toMap

    // 2. t40 row-for-row
    val t40 = TextOps.qDedupClusters(spark, dir).collect()
    if (t40.length != nodeSet.size)
      err(s"t40 row count ${t40.length} != union-find node count ${nodeSet.size}")
    t40.foreach { r =>
      val (doc, cl, sz, canon) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
      expectLabel.get(doc) match {
        case None => err(s"t40 doc $doc not in any collected edge")
        case Some(exp) =>
          if (cl != exp) err(s"t40 doc $doc label $cl != union-find $exp")
          if (sz != expectSize(exp)) err(s"t40 doc $doc size $sz != ${expectSize(exp)}")
          if (canon != (doc == exp)) err(s"t40 doc $doc is_canonical=$canon wrong")
      }
    }

    // 3. t52: survivor per cluster over the gate's own scores
    val scores = TextOps.scoredDocs(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byCluster = scores.keysIterator
      .map(d => (expectLabel.getOrElse(d, d), d))
      .toSeq.groupBy(_._1)
    val expectSurvivor = byCluster.map { case (cl, members) =>
      val ids = members.map(_._2)
      // max by (score, -doc_id): highest score, ties to smallest id
      val best = ids.maxBy(d => (scores(d), -d))
      cl -> (best, ids.size.toLong)
    }
    val t52 = TextOps.qDedupSurvivors(spark, dir).collect()
    if (t52.length != expectSurvivor.size)
      err(s"t52 row count ${t52.length} != expected clusters ${expectSurvivor.size}")
    t52.foreach { r =>
      val (cl, surv, sz, sc) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      expectSurvivor.get(cl) match {
        case None => err(s"t52 cluster $cl unexpected")
        case Some((expSurv, expSz)) =>
          if (surv != expSurv) err(s"t52 cluster $cl survivor $surv != $expSurv")
          if (sz != expSz) err(s"t52 cluster $cl size $sz != $expSz")
          if (sc != scores(expSurv)) err(s"t52 cluster $cl score $sc != gate score")
      }
    }
    // 4. t78: cluster-aware splitting over the same labels — its
    // DuckDB oracle is the same recursive CTE that dies at sf10, so
    // the independent check covers it too. The split rule is the t33
    // md5 first-byte bucket, reimplemented here from the definition.
    def splitOf(id: Long): String = {
      val b = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))(0) & 0xff
      if (b < 13) "test" else if (b < 39) "eval" else "train"
    }
    val t78 = TrainingOps.qClusterSplit(spark, dir).collect()
    val allDocs = t78.map(_.getLong(0))
    // leaky = the cluster's members span >1 naive split
    val splitsByRep = allDocs.groupBy(d => expectLabel.getOrElse(d, d))
      .map { case (rep, ids) => rep -> ids.map(splitOf).toSet }
    t78.foreach { r =>
      val (doc, rep, sd, sc, leaky) = (r.getLong(0), r.getLong(1),
        r.getString(2), r.getString(3), r.getBoolean(4))
      val expRep = expectLabel.getOrElse(doc, doc)
      if (rep != expRep) err(s"t78 doc $doc rep $rep != union-find $expRep")
      if (sd != splitOf(doc)) err(s"t78 doc $doc split_doc $sd != ${splitOf(doc)}")
      if (sc != splitOf(expRep)) err(s"t78 doc $doc split_cluster $sc wrong")
      val expLeaky = splitsByRep(expRep).size > 1
      if (leaky != expLeaky) err(s"t78 doc $doc leaky=$leaky != $expLeaky")
    }
    errs.toSeq
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.app.Cli.session("graft-cc-check")
    val errs = check(spark, dir)
    if (errs.isEmpty) println(s"[cc-check] $dir: t40 + t52 + t78 verified against driver-side union-find")
    else { errs.foreach(e => println(s"[cc-check] MISMATCH: $e")); }
    spark.stop()
    if (errs.nonEmpty) sys.exit(1)
  }
}
