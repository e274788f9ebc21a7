package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{TextOps, TrainingOps}
import graft.streaming.{IncrementalAnn, IncrementalCluster, IncrementalDedup,
  IncrementalSpanIndex}

/** End-to-end differentials of the INCREMENTAL monthly-drop pipeline
  * against the BATCH gates on a real corpus — one leg per graft-drop
  * index (r12 dedup+cluster; r13 spans and ANN, VERDICT #1): split a
  * real table into K drops, run each through the same `processBatch`
  * sequence graft-drop runs, and require the union of the per-drop
  * reports to equal an independently constructed batch answer.
  *
  * Legs (each `runMain graft.tools.DropCheck <dir> [drops] [legs]`;
  * exit 1 on any mismatch; DropCheckSpec runs all three at sf0.01 in
  * CI):
  *
  *  - **dedup** (r12): per-drop [[IncrementalDedup.processBatch]] +
  *    [[IncrementalCluster.update]] vs batch t28/t40/t52 AND a
  *    code-independent driver-side union-find over the reported pairs
  *    (see [[check]]).
  *  - **spans** (r13): per-drop [[IncrementalSpanIndex.processBatch]]
  *    union vs batch t82 ([[TrainingOps.qExactSubstring]]) row-for-row
  *    — the probe's new-vs-all orientation covers every unordered pair
  *    exactly once (within-drop pairs surface when their drop arrives,
  *    cross-drop pairs when the younger side does), and the folded
  *    df/occ cap state must reproduce the batch caps at every prefix.
  *    Batch t82 is the same probe step over empty state, so one drop
  *    agrees by construction and more drops check the later folds.
  *    Plus a construction-independent CONTENT check: every reported
  *    span's token slice must be verbatim-identical in both documents
  *    — verified against the raw text, no hashing, probing, or island
  *    logic shared with either side ([[checkSpans]]).
  *  - **ann** (r13): per-drop [[IncrementalAnn.processBatch]] vs an
  *    independently formulated batch new-vs-all band-probe over the
  *    SAME persisted hyperplane model — per-plane exploded rows +
  *    groupBy bit-sum signatures and HOF-fold dot products (the
  *    incremental path packs buckets with an in-row aggregate over the
  *    codegen'd dot expression; both orderings are IEEE-identical, so
  *    buckets and cosines must match bitwise), prefix-occupancy caps
  *    recomputed from scratch, exact-cosine top-k — plus a driver-side
  *    re-selection of top-k from the collected candidate set on a
  *    sampled query subset ([[checkAnn]]).
  *
  * Cap-timing note for the incremental legs: the span probe applies
  * its df/occ caps from the state as of the PROBING drop (a window can
  * only become hotter as the corpus grows, so a span reported early is
  * never retro-withdrawn — the monthly-pipeline contract), while batch
  * t82 caps over the full corpus. The two agree exactly when no seed
  * window's cap status flips between its report drop and corpus end;
  * [[checkSpans]] detects flip windows independently and reports them
  * with any mismatch instead of conflating semantics drift with a
  * bug. The same reasoning covers the ANN occupancy cap, where the
  * comparator recomputes the prefix occupancy per drop.
  */
object DropCheck {

  /** Run `body` against a fresh temp index root; ALWAYS drop the root
    * and release the memoized batch relations afterwards (r13, closing
    * the r12 ADVICE finding: a throw mid-check previously leaked the
    * temp state and kept corpus-sized frames cached for the rest of a
    * shared suite session).
    */
  private def withTempRoot(spark: SparkSession)
      (body: String => Seq[String]): Seq[String] = {
    val root = java.nio.file.Files.createTempDirectory("dropcheck").toString
    try body(root)
    finally {
      graft.streaming.StreamingState.fsFor(spark, root)
        .delete(new org.apache.hadoop.fs.Path(root), true)
      graft.operators.SessionMemo.release(spark)
    }
  }

  private final class Errs(maxErrs: Int) {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    def apply(m: => String): Unit = if (buf.size < maxErrs) { buf += m; () }
    def result: Seq[String] = buf.toSeq
  }

  /** Dedup + cluster leg. Returns mismatch descriptions; empty =
    * pipeline verified.
    */
  def check(spark: SparkSession, dir: String, drops: Int = 4,
      maxErrs: Int = 20): Seq[String] = withTempRoot(spark) { root =>
    val err = new Errs(maxErrs)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))

    // the wired pipeline, drop by drop (same sequence as graft-drop)
    val reported = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    for (i <- 0 until drops) {
      val batch = docs.filter(pmod(col("doc_id"), lit(drops)) === i)
      val pairs = IncrementalDedup.processBatch(batch, s"$root/dedup", i.toLong)
      IncrementalCluster.update(spark, s"$root/clusters", i.toLong, pairs,
        IncrementalCluster.endpointScores(pairs))
      reported ++= pairs.select(col("doc_a"), col("doc_b"), col("jaccard"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      ()
    }

    // 1. pair-set equality vs batch t28 (near-dup-bounded — collectable)
    val inc = reported.sortBy(p => (p._1, p._2)).toSeq
    val batchPairs = TextOps.qMinhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq
    if (inc.size != batchPairs.size)
      err(s"pair count: incremental ${inc.size} vs batch ${batchPairs.size}")
    inc.zip(batchPairs).foreach { case (a, b) =>
      if (a != b) err(s"pair mismatch: incremental $a vs batch $b")
    }

    // 3. independent union-find over the reported edges
    val dsu = new Dsu
    reported.foreach { case (a, b, _) => dsu.union(a, b) }
    val expect = dsu.nodes.map(n => n -> dsu.find(n)).toMap

    // 2. folded members vs t40 labels and the DSU
    val members = IncrementalCluster.readMembers(spark, s"$root/clusters")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val t40 = TextOps.qDedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (members.keySet != t40.keySet)
      err(s"member sets differ: inc-only ${(members.keySet -- t40.keySet).take(5)}, " +
        s"batch-only ${(t40.keySet -- members.keySet).take(5)}")
    members.foreach { case (d, (l, _)) =>
      if (t40.getOrElse(d, -1L) != l) err(s"doc $d: fold label $l, t40 ${t40.get(d)}")
      if (expect.getOrElse(d, d) != l) err(s"doc $d: fold label $l, union-find ${expect.get(d)}")
    }

    // 4. survivors vs t52 on multi-member clusters (score + size too)
    val surv = IncrementalCluster.readSurvivors(spark, s"$root/clusters")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val t52 = TextOps.qDedupSurvivors(spark, dir)
      .filter(col("cluster_size") > 1L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    if (surv.keySet != t52.keySet)
      err(s"survivor cluster sets differ: inc-only ${(surv.keySet -- t52.keySet).take(5)}, " +
        s"batch-only ${(t52.keySet -- surv.keySet).take(5)}")
    surv.foreach { case (c, row) =>
      if (t52.get(c).exists(_ != row) || !t52.contains(c))
        err(s"cluster $c: fold survivor $row, t52 ${t52.get(c)}")
    }

    if (err.buf.isEmpty)
      println(s"[drop-check] dedup $dir drops=$drops verified: ${inc.size} pairs, " +
        s"${members.size} members, ${surv.size} clusters — incremental == batch == union-find")
    err.result
  }

  /** Span leg (r13): K drops through [[IncrementalSpanIndex]] vs batch
    * t82. Returns mismatch descriptions; empty = verified.
    */
  def checkSpans(spark: SparkSession, dir: String, drops: Int = 4,
      maxErrs: Int = 20): Seq[String] = withTempRoot(spark) { root =>
    val err = new Errs(maxErrs)
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))

    val reported = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)]
    for (i <- 0 until drops) {
      val batch = docs.filter(pmod(col("doc_id"), lit(drops)) === i)
      val spans = IncrementalSpanIndex.processBatch(batch, s"$root/spans", i.toLong)
      reported ++= spans.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      ()
    }

    // 1. span-set equality vs batch t82 (near-dup-bounded — collectable)
    val inc = reported.sorted.toSeq
    val batchSpans = TrainingOps.qExactSubstring(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sorted.toSeq
    if (inc != batchSpans) {
      if (inc.size != batchSpans.size)
        err(s"span count: incremental ${inc.size} vs batch ${batchSpans.size}")
      val is = inc.toSet; val bs = batchSpans.toSet
      (is -- bs).take(5).foreach(s => err(s"incremental-only span: $s"))
      (bs -- is).take(5).foreach(s => err(s"batch-only span: $s"))
      // attribute-or-refute: did any window's cap status flip between a
      // probing prefix and the full corpus? (the one semantics gap the
      // incremental contract allows — see object doc). Prefixes 0 to
      // drops-2: drop i probes against the state INCLUDING itself, so
      // prefix 0 (the smallest, most flip-prone) must be checked and
      // the drops-1 prefix (== full corpus, vacuously flip-free) need
      // not be (r14, closing the r13 ADVICE finding).
      // (diagnosis only, so it reuses the fold's cap aggregate; the two
      // checks that verify stay independent of the code they check)
      def caps(d: DataFrame) =
        IncrementalSpanIndex.capAggregate(IncrementalSpanIndex.windowRows(d))
      val hot = caps(docs).filter(!IncrementalSpanIndex.seeds)
      val flips = (0 until drops - 1).map { i =>
        caps(docs.filter(pmod(col("doc_id"), lit(drops)) <= i))
          .filter(IncrementalSpanIndex.seeds)
          .join(hot, Seq("h64"), "left_semi")
          .count()
      }.sum
      err(s"cap-flip windows across prefixes: $flips " +
        "(nonzero = prefix-vs-corpus cap drift explains extras; " +
        "zero = a genuine probe bug)")
    }

    // 2. content check, construction-independent: every reported span
    // must be a VERBATIM token-slice match in both documents — raw
    // text, no hashes, no islands. (Maximality is over the df-capped
    // window space by contract, so only equality is checked.)
    if (reported.nonEmpty) {
      import spark.implicits._
      val spDf = reported.toSeq.toDF("doc_a", "doc_b", "start_a", "start_b",
        "span_len")
      val words = docs.select(col("doc_id"),
        expr("filter(split(text, ' '), w -> w != '')").as("words"))
      val bad = spDf
        .join(words.select(col("doc_id").as("doc_a"), col("words").as("wa")),
          Seq("doc_a"))
        .join(words.select(col("doc_id").as("doc_b"), col("words").as("wb")),
          Seq("doc_b"))
        .filter(expr("slice(wa, cast(start_a as int), cast(span_len as int)) " +
          "!= slice(wb, cast(start_b as int), cast(span_len as int))"))
      val nBad = bad.count()
      if (nBad > 0L) {
        err(s"$nBad reported spans are NOT verbatim in the raw text")
        bad.select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
            col("span_len")).take(3)
          .foreach(r => err(s"non-verbatim span: $r"))
      }
    }

    if (err.buf.isEmpty)
      println(s"[drop-check] spans $dir drops=$drops verified: ${inc.size} spans " +
        "— incremental union == batch t82, all verbatim in raw text")
    err.result
  }

  /** ANN leg (r13): K drops through [[IncrementalAnn]] vs an
    * independently formulated batch new-vs-all probe per drop. Returns
    * mismatch descriptions; empty = verified.
    */
  def checkAnn(spark: SparkSession, dir: String, drops: Int = 4,
      maxErrs: Int = 20, cfg: IncrementalAnn.Config = IncrementalAnn.Config(),
      sampleMod: Long = 17L): Seq[String] = withTempRoot(spark) { root =>
    val err = new Errs(maxErrs)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))

    // the wired pipeline, drop by drop
    val reports = (0 until drops).map { i =>
      val batch = vecs.filter(pmod(col("vec_id"), lit(drops)) === i)
      IncrementalAnn.processBatch(batch, s"$root/ann", i.toLong, cfg)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    }

    // independent comparator over the SAME persisted hyperplane model:
    // per-plane exploded rows, HOF-fold dot products (IEEE-identical
    // order to the codegen'd dot_product), groupBy bit-sum buckets
    val planes = spark.read.parquet(s"$root/ann/planes")
    def hofDot(a: String, b: String): String =
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), " +
        "cast(0.0 as double), (acc, x) -> acc + x)"
    val buckets = vecs.withColumn("__j", lit(1))
      .join(broadcast(planes.withColumn("__j", lit(1))), Seq("__j"))
      .withColumn("bit", when(expr(hofDot("v", "pv")) >= 0d,
        expr("shiftleft(1L, plane_id)")).otherwise(lit(0L)))
      .groupBy(col("vec_id")).agg(sum(col("bit")).as("bucket"))
    val mask = (1 << cfg.bits) - 1
    val bandRows = buckets.select(col("vec_id"), col("bucket"),
        explode(expr(s"sequence(0, ${cfg.bands - 1})")).as("band_id"))
      .withColumn("sig",
        expr(s"shiftright(bucket, ${cfg.bits} * band_id) & $mask"))
      .select(col("vec_id"), col("band_id").cast("int").as("band_id"),
        col("sig"))
    val norms = vecs.select(col("vec_id"),
      expr(s"sqrt(${hofDot("v", "v")})").as("nv"))

    def eqD(a: Double, b: Double): Boolean = a == b || (a.isNaN && b.isNaN)

    for (i <- 0 until drops) {
      val freshBand = bandRows.filter(pmod(col("vec_id"), lit(drops)) === i)
      val prefixBand = bandRows.filter(pmod(col("vec_id"), lit(drops)) <= i)
      // occupancy over the prefix INCLUDING this drop — the folded
      // state's contract — recomputed from scratch here
      val over = prefixBand.groupBy(col("band_id"), col("sig"))
        .agg(count(lit(1)).as("bn")).filter(col("bn") > cfg.cap)
        .select(col("band_id"), col("sig"))
      val target = prefixBand
        .join(over, Seq("band_id", "sig"), "left_anti")
        .select(col("vec_id").as("neighbor_id"), col("band_id"), col("sig"))
      val cand = freshBand
        .join(target, Seq("band_id", "sig"))
        .filter(col("vec_id") =!= col("neighbor_id"))
        .select(col("vec_id").as("query_id"), col("neighbor_id"))
        .distinct()
      val scored = cand
        .join(vecs.select(col("vec_id").as("query_id"), col("v").as("qv")),
          Seq("query_id"))
        .join(vecs.select(col("vec_id").as("neighbor_id"), col("v")),
          Seq("neighbor_id"))
        .join(norms.select(col("vec_id").as("query_id"), col("nv").as("qnv")),
          Seq("query_id"))
        .join(norms.select(col("vec_id").as("neighbor_id"), col("nv")),
          Seq("neighbor_id"))
        .withColumn("cosine",
          expr(hofDot("qv", "v")) / (col("qnv") * col("nv")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val expect = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= cfg.k)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      val got = reports(i)
      if (got.size != expect.size)
        err(s"drop $i: ${got.size} report rows vs ${expect.size} independent")
      got.zip(expect).foreach { case (g, e) =>
        if (g._1 != e._1 || g._2 != e._2 || g._3 != e._3 || !eqD(g._4, e._4))
          err(s"drop $i: report $g vs independent $e")
      }

      // driver-side third construction on a sampled query subset:
      // re-select top-k from the collected candidate set in plain Scala
      val sampled = scored.filter(pmod(col("query_id"), lit(sampleMod)) === 0)
        .select(col("query_id"), col("neighbor_id"), col("cosine")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val manual = sampled.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
        cs.sortBy(c => (-c._3, c._2)).take(cfg.k).zipWithIndex
          .map { case ((_, n, c), idx) => (q, idx + 1, n, c) }
      }.sortBy(t => (t._1, t._2))
      val gotSampled = got.filter(t => t._1 % sampleMod == 0L)
      if (manual.size != gotSampled.size)
        err(s"drop $i sampled: ${gotSampled.size} rows vs ${manual.size} manual")
      gotSampled.zip(manual).foreach { case (g, m) =>
        if (g._1 != m._1 || g._2 != m._2 || g._3 != m._3 || !eqD(g._4, m._4))
          err(s"drop $i sampled: report $g vs manual $m")
      }
    }

    if (err.buf.isEmpty)
      println(s"[drop-check] ann $dir drops=$drops verified: " +
        s"${reports.map(_.size).sum} neighbor rows — incremental == " +
        "independent probe == driver re-selection")
    err.result
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val drops = args.lift(1).map(_.toInt).getOrElse(4)
    val legs = args.lift(2).map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("dedup", "spans", "ann"))
    val spark = graft.app.Cli.session("graft-drop-check")
    val errs =
      (if (legs("dedup")) check(spark, dir, drops) else Seq.empty) ++
      (if (legs("spans")) checkSpans(spark, dir, drops) else Seq.empty) ++
      (if (legs("ann")) checkAnn(spark, dir, drops) else Seq.empty)
    errs.foreach(e => System.err.println(s"[drop-check] MISMATCH: $e"))
    if (errs.nonEmpty) sys.exit(1)
  }
}
