package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** CI legs of tools/DropCheck (the CcCheck pattern): the incremental
  * drop pipeline over 3 drops of the real sf0.01 corpus must converge
  * to the batch answers row-for-row on every graft-drop index —
  * dedup+cluster vs t28/t40/t52 + union-find (r12), spans vs t82 +
  * verbatim raw-text content (r13), ANN vs an independently formulated
  * new-vs-all probe + driver-side top-k re-selection (r13).
  */
class DropCheckSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("incremental drops converge to the batch dedup/cluster/survivor answers at sf0.01") {
    val errs = graft.tools.DropCheck.check(spark, "/root/testdata/sf0.01", drops = 3)
    assert(errs.isEmpty, s"\n${errs.mkString("\n")}")
  }

  test("incremental span reports converge to batch t82 at sf0.01, all verbatim") {
    // one drop is the fold's first epoch, the step batch t82 runs over
    // empty state; three drops check the folds after it
    for (drops <- Seq(3, 1)) {
      val errs = graft.tools.DropCheck.checkSpans(spark, "/root/testdata/sf0.01", drops)
      assert(errs.isEmpty, s"drops=$drops\n${errs.mkString("\n")}")
    }
  }

  test("incremental ANN reports converge to the independent new-vs-all probe at sf0.01") {
    val errs = graft.tools.DropCheck.checkAnn(spark, "/root/testdata/sf0.01", drops = 3)
    assert(errs.isEmpty, s"\n${errs.mkString("\n")}")
  }
}
