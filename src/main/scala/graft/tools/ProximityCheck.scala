package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Analytics

/** Independent verification of q37 (binned proximity join) — r11: its
  * DuckDB IEJoin oracle costs 278 s at sf1 and hours at sf10, the one
  * gate whose oracle no one can afford to run at scale. The per-type
  * pair COUNTS, however, are computable exactly in O(n log n) by a
  * driver-side sweep that shares nothing with the binned join: sort
  * each type's events by time, slide a value-bounded two-pointer
  * window (tb ∈ (ta, ta+W]) with a per-user occupancy map, and for
  * each lead event count window size minus own-user occupancy. Exact
  * — not sampled — and linear in events, so it FINISHES at sf10
  * (10M events, seconds) where the O(n²)-prone IEJoin dies.
  *
  * Run: runMain graft.tools.ProximityCheck <dir>  (exit 1 on mismatch)
  */
object ProximityCheck {

  private val W = 300L * 1000000 // 5-minute window, µs (the gate's)

  /** Exact per-type (n_pairs, n_lead_users) by sorted two-pointer. */
  private def sweep(events: Array[(Long, Long)]): (Long, Long) = {
    // events: (us, user_id), will be sorted by time
    val ev = events.sortBy(_._1)
    val n = ev.length
    val occ = scala.collection.mutable.LongMap.empty[Long] // user -> count in window
    var lo = 0 // first index with ts > ev(i)._1
    var hi = 0 // first index with ts > ev(i)._1 + W
    var pairs = 0L
    val leads = scala.collection.mutable.Set.empty[Long]
    var i = 0
    while (i < n) {
      val (ta, ua) = ev(i)
      while (hi < n && ev(hi)._1 <= ta + W) {
        occ(ev(hi)._2) = occ.getOrElse(ev(hi)._2, 0L) + 1; hi += 1
      }
      while (lo < n && ev(lo)._1 <= ta) {
        val u = ev(lo)._2
        val c = occ(u) - 1
        if (c == 0L) occ.remove(u) else occ(u) = c
        lo += 1
      }
      val inWindow = (hi - lo).toLong
      val own = occ.getOrElse(ua, 0L)
      val p = inWindow - own
      if (p > 0) { pairs += p; leads += ua; () }
      i += 1
    }
    (pairs, leads.size.toLong)
  }

  /** Returns mismatch descriptions; empty = q37 verified. */
  def check(spark: SparkSession, dir: String): Seq[String] = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    val byType = graft.Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), unix_micros(col("ts")).as("us"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) => t -> rows.map(r => (r.getLong(2), r.getLong(1))) }
    val expected = byType.map { case (t, ev) => t -> sweep(ev) }
    val gate = Analytics.qProximityJoin(spark, dir).collect()
    if (gate.length != expected.size)
      errs += s"q37 row count ${gate.length} != ${expected.size} types"
    gate.foreach { r =>
      val (t, np, nl) = (r.getString(0), r.getLong(1), r.getLong(2))
      expected.get(t) match {
        case None => errs += s"q37 type $t unexpected"
        case Some((ep, el)) =>
          if (np != ep) errs += s"q37 type $t n_pairs $np != sweep $ep"
          if (nl != el) errs += s"q37 type $t n_lead_users $nl != sweep $el"
      }
    }
    errs.toSeq
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.app.Cli.session("graft-proximity-check")
    val errs = check(spark, dir)
    if (errs.isEmpty)
      println(s"[prox-check] $dir: q37 verified against driver-side two-pointer sweep")
    else errs.foreach(e => println(s"[prox-check] MISMATCH: $e"))
    spark.stop()
    if (errs.nonEmpty) sys.exit(1)
  }
}
