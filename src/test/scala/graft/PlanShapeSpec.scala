package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, Relational, TextOps}

/** Scale-critical PLAN properties of representative gates, asserted on
  * the executed plan — the `.explain` audit the scale review does by
  * hand, pinned so a regression (a lost pushdown, a dimension join
  * degrading to sort-merge, a surprise cross product) is one red line
  * at commit time instead of a 100 TB incident.
  */
class PlanShapeSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

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

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q2 filter+project: predicate and column pruning reach the parquet scan") {
    val p = df2Formatted(Relational.q2FilterProject(spark, dir))
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1").trim.isEmpty,
      s"no filters pushed:\n$p")
  }

  private def df2Formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("q5 star join: every dimension joins as BroadcastHashJoin, never sort-merge") {
    val p = plan(Relational.q5NationRevenue(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    // the only permissible SortMergeJoin is the fact-fact orders join;
    // dimension tables must never reach one at this size
    assert(p.split("SortMergeJoin").length - 1 <= 1,
      s"dimension join degraded to sort-merge:\n$p")
  }

  test("q1 aggregation: partial (map-side) aggregation precedes the exchange") {
    val p = plan(Relational.q1PricingSummary(spark, dir))
    val firstAgg = p.indexOf("HashAggregate")
    val exch = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exch >= 0)
    assert(p.indexOf("HashAggregate", exch) >= 0,
      s"no partial aggregation below the exchange:\n$p")
  }

  test("q37 binned range join plans as an equi-join, not a nested-loop product") {
    val p = plan(Analytics.qProximityJoin(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to nested-loop:\n$p")
  }

  test("t28 LSH verification carries no cross product anywhere") {
    val p = plan(TextOps.qMinhashLsh(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q40 funnel joins on the user key, no nested loop") {
    val p = plan(Analytics.qFunnel(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q42 rolling window: exactly one Window node, partitioned by user") {
    val p = plan(Analytics.qRollingWindow(spark, dir))
    assert(p.split("\\bWindow\\b").length - 1 == 1,
      s"expected exactly one Window node:\n$p")
    assert(p.contains("windowspecdefinition(user_id"),
      s"window must be partitioned by user_id:\n$p")
  }

  test("q41 cohort retention: user-keyed equi-join, no nested loop") {
    val p = plan(Analytics.qCohortRetention(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("Join [^\n]*user_id#".r.findFirstIn(p).isDefined ||
      "HashJoin [^\n]*user_id#".r.findFirstIn(p).isDefined,
      s"cohort join must be keyed on user_id:\n$p")
  }

  test("t76 contamination report: span join is equi on h, no cross product") {
    val p = plan(graft.operators.TrainingOps.qContaminationReport(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("Join[^\n]*\\[h64#".r.findFirstIn(p).isDefined,
      s"span screen must equi-join on the span hash h64:\n$p")
  }

  test("t78 cluster split reads the memoized components artifact") {
    val p = plan(graft.operators.TrainingOps.qClusterSplit(spark, dir))
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"components must come from the persisted artifact, not recomputation:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("m45 media dedup: banded equi-join only, never a cross product") {
    val p = plan(graft.operators.MediaGate.qMediaDedup(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t81 CMS probe joins the depth x width cells as a broadcast") {
    val p = plan(graft.operators.CurationOps.qCmsHeavyHitters(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"the 256-row sketch table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cut-substrings swap never broadcasts the cleaned text (r11 verdict #1)") {
    // Simulate the 100 TB regime where the cleaned-text relation
    // exceeds the broadcast threshold: with auto-broadcast off, the
    // doc_id equi-join must plan as a shuffle join — a build side
    // carrying text_clean means a forced hint snuck back in.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val selected = graft.Tables.documents(spark, dir)
      val p = plan(graft.operators.CurationOps
        .applySubstringCuts(selected, spark, dir))
      assert(!p.contains("BroadcastHashJoin") &&
             !p.contains("BroadcastNestedLoopJoin"),
        s"cleaned-text join must not broadcast when over threshold:\n$p")
      assert(!p.contains("CartesianProduct"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q36 gap fill: exchanges are user-keyed, no nested loop") {
    val p = plan(Analytics.qGapFill(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("hashpartitioning(user_id"),
      s"grid/fill must shuffle on the user key:\n$p")
  }
}
