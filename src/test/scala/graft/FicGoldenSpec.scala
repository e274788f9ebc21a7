package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fic.{FicLookup, FicSchema, FicTransform}
import graft.quality.GoldenDiff

/** End-to-end transform-chain golden test: the reference's 7 raw fixture
  * documents through the full 8-pass chain must match the reference
  * implementation's output leaf-for-leaf (tolerance 1e-10).
  */
class FicGoldenSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def goldenDir: String = {
    val url = getClass.getResource("/golden/table_dates.json")
    new java.io.File(url.toURI).getParentFile.getAbsolutePath
  }

  test("transform chain reproduces the reference output on all 7 goldens") {
    val dir = ReferenceCorpus.assumeRawJson()
    spark.sparkContext.setLogLevel("WARN")
    val raw = spark.read
      .option("multiLine", true)
      .schema(FicSchema.raw)
      .json(s"$dir/*.json")
      .withColumn("filename",
        regexp_extract(input_file_name(), "([^/]+)$", 1))

    assert(raw.count() == 7)

    val transformed = FicTransform(raw, FicLookup(Nil))
      .withColumn("doc", regexp_replace(col("filename"), "_raw\\.json$", ""))
      .drop("filename")

    val expected = spark.read
      .option("multiLine", true)
      .schema(FicSchema.transformed)
      .json(goldenDir + "/*_expected.json")
      .withColumn("doc",
        regexp_extract(input_file_name(), "([^/]+)_expected\\.json$", 1))

    assert(expected.count() == 7)

    val diffs = GoldenDiff.diff(transformed, expected, "doc").collect()
    if (diffs.nonEmpty) {
      diffs.take(40).foreach(r => info(r.toString))
    }
    assert(diffs.isEmpty, s"${diffs.length} leaf diffs vs reference output")

    val rel = GoldenDiff.reliability(transformed, expected, "doc").collect()
    rel.foreach(r => assert(r.getAs[Double]("confiabilidad") == 100.0, r.toString))
  }
}
