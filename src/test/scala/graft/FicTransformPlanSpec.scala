package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.scalatest.funsuite.AnyFunSuite
import graft.fic.{FicKernel, FicTransform}

/** Regression guard for the per-document kernel: the optimized plan of
  * [[FicTransform]] holds no higher-order-function lambda and evaluates
  * [[FicKernel]] once per row, and building and running the transform
  * leaves the session's function registry and SQL conf as they were.
  */
class FicTransformPlanSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("the optimized plan has no lambda and one kernel evaluation per row") {
    spark.sparkContext.setLogLevel("WARN")
    import FicLoadFixture._
    val plan = transformed(spark, folder(Month1)).queryExecution.optimizedPlan
    val lambdas = plan.flatMap(_.expressions.flatMap(_.collect { case l: LambdaFunction => l }))
    assert(lambdas.isEmpty, s"${lambdas.size} lambda functions in\n$plan")
    val kernels = plan.flatMap(_.expressions.flatMap(_.collect { case k: FicKernel => k }))
    assert(kernels.size == 1, s"${kernels.size} kernel evaluations in\n$plan")
  }

  test("FicTransform leaves the session's function registry and SQL conf unchanged") {
    import FicLoadFixture._
    val session = spark.newSession()
    val functions = session.sessionState.functionRegistry.listFunction().toSet
    val conf = session.conf.getAll
    val out = transformed(session, folder(Month1))
    out.write.format("noop").mode("overwrite").save()
    assert(session.sessionState.functionRegistry.listFunction().toSet -- functions == Set.empty)
    assert(session.conf.getAll == conf)
  }
}
