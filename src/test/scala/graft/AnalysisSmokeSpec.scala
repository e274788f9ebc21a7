package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Analysis-only smoke gate over the ENTIRE registered query surface.
  *
  * Round 7 lesson: a corpus regeneration changed one column's physical
  * parquet type and five registered queries started failing at PLAN
  * time — no spec caught it because each spec exercises its own
  * operator path, and the failure only surfaced as five rows silently
  * vanishing from the round's correctness artifact. This spec closes
  * that hole: every `SparkEntry.queries` entry must at least ANALYZE
  * against the real sf0.001 corpus. `.queryExecution.analyzed` resolves
  * the plan (reads schemas, binds columns, type-checks expressions)
  * without running a job, so the whole sweep is seconds, and a loader/
  * schema regression becomes one red line at commit time.
  *
  * Eager-artifact operators (BPE train, connected components, Bloom) DO
  * run bounded jobs during plan construction — that is their documented
  * contract (GraftSql.EagerArtifactViews) — so they are included: a few
  * extra seconds buys full-surface coverage.
  */
class AnalysisSmokeSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("every registered query analyzes against the sf0.001 corpus") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) =>
        try { build(spark, dir).queryExecution.analyzed; None }
        catch { case e: Exception =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" / ")}")
        }
    }
    assert(failures.isEmpty,
      s"\n${failures.size} queries fail analysis:\n  ${failures.mkString("\n  ")}")
    graft.operators.SessionMemo.release(spark)
  }

  test("zero-global-window red line: no unpartitioned Window in any gate plan") {
    // r8 VERDICT #1: an unpartitioned WindowExec funnels the whole frame
    // through one reducer — the repo forbids it everywhere (bounded
    // frames must fold in-row instead, the qBpePairs/qUnimaxMix
    // pattern). This makes the invariant machine-checked: any gate whose
    // analyzed plan carries a Window with an empty partitionSpec fails
    // here, instead of hiding as a "No Partition Defined" log warning.
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) =>
        build(spark, dir).queryExecution.analyzed.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty =>
            s"$name: global window over [${w.windowExpressions.map(_.name).mkString(", ")}]"
        }
    }
    assert(offenders.isEmpty,
      s"\nunpartitioned Window nodes (red line):\n  ${offenders.mkString("\n  ")}")
    graft.operators.SessionMemo.release(spark)
  }

  test("no-cartesian red line: every nested-loop shape is a whitelisted broadcast-bounded one") {
    // r9 VERDICT #6, the complement of the no-global-window rule: an
    // unbounded CartesianProduct (or a non-broadcast nested loop) is
    // |A|×|B| work and the classic 100 TB scale-killer. The physical
    // plan of every gate is swept; any CartesianProductExec fails
    // outright, and BroadcastNestedLoopJoinExec is tolerated only for
    // gates on the whitelist below, each of which crosses against a
    // PROVABLY bounded broadcast side (a trained model artifact, a
    // ≤256-row literal frame, or the documented brute-force baseline).
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    // Whitelisted broadcast-bounded nested loops. Every crossJoin in
    // these gates' construction broadcasts a PROVABLY bounded side
    // (code-audited; the set is memo-state-dependent in the plan —
    // a gate whose upstream artifact is already session-persisted
    // plans a scan instead of the crossJoin — so the whitelist names
    // every gate that CAN legitimately plan one, and anything outside
    // it is a genuine red-line violation):
    //   m43 pdf layout        — words × 4-row region dictionary, range-containment join
    //   t34 source mix        — per-source frame × 1-row totals
    //   t64 temperature mix   — per-source frame × 1-row totals
    //   q45 zorder layout     — ranked frame × 1-row max-rank total (×2, one per dimension)
    //   t71 lang divergence   — language pairs × 256-row bucket range (langs²×256 contract)
    //   v33/v43               — 10-row query frame × corpus (the documented brute baseline)
    //   v34/v35               — corpus × 4-row hyperplane array
    //   v36                   — corpus × 1-row stats frame
    //   v37/v40/v41           — 10-row query frame × ≤8-row centroid array (probe stage)
    //   v38/v44               — 10-row query frame × coded corpus / 1-row min-max stats
    //   v39/v42/v45           — corpus × ≤8-row trained centroid array
    //   v46                   — 8-row centroid frame × itself
    //   v47                   — 10-row query frame × corpus, twice
    //                           (its two fused backends are v33's and
    //                           v44's own whitelisted probe scans)
    val whitelist = Set(
      "m43_pdf_layout", "q45_zorder_layout", "t34_source_mix",
      "t64_temperature_mix", "t71_lang_divergence",
      "v33_ann_bruteforce", "v34_ann_lsh", "v35_cosine_dedup",
      "v36_vector_stats", "v37_ann_ivf", "v38_ann_quantized",
      "v39_cluster_assign", "v40_ann_ivf_sq8", "v41_ann_ivf_pq",
      "v42_semdedup", "v43_ann_recall", "v44_ann_binary",
      "v45_cluster_quality", "v46_centroid_overlap",
      "v47_hybrid_fusion")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) =>
        val plan = build(spark, dir).queryExecution.sparkPlan
        plan.collect {
          case _: org.apache.spark.sql.execution.joins.CartesianProductExec =>
            s"$name: CartesianProductExec (never allowed)"
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
              if !whitelist.contains(name) =>
            s"$name: BroadcastNestedLoopJoinExec (${j.joinType}) not whitelisted"
        }
    }
    assert(offenders.isEmpty,
      s"\nunbounded nested-loop shapes (red line):\n  ${offenders.mkString("\n  ")}")
    graft.operators.SessionMemo.release(spark)
  }

  test("entry flagship query analyzes and the SQL surface initializes") {
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.entry(spark).queryExecution.analyzed
    // init must survive even with every loader pointed at the real
    // corpus; per-table isolation is covered by SqlSurfaceSpec
    graft.sql.GraftSql.init(spark, "/root/testdata/sf0.001")
    assert(spark.catalog.tableExists("events"))
    assert(spark.catalog.tableExists("lineitem"))
    graft.operators.SessionMemo.release(spark)
  }
}
