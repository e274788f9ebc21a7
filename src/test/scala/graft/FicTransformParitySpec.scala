package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fic.{FicSchema, FicTransform}
import graft.sources.FicSources

/** Leaf-exact parity of [[graft.fic.FicTransform]] with the
  * nested-lambda SQL projection it replaced, on 25 raw documents under
  * `src/test/resources/fic-parity/raw` plus a small `fics.json` (no
  * reference corpus needed). The documents cover percentages ×100, as
  * decimals and as comma text with `%`; "NaN"/"Infinity" strings and
  * exponent number tokens; mixed strings and numbers in one category; a
  * category whose sum is in neither window; null, empty and missing
  * lists, structs and categories; agency spelling variants, tab-padded
  * ones included; Spanish, ISO, dash, slash, empty and unparseable
  * dates; `valor` above 1e6 and "1,5" units; accented, upper-case and
  * null policy texts; and file names that take the bank alias,
  * containment and difflib paths, or have no `_`.
  *
  * `expected.json` is that projection's output (commit 32634fb), one
  * document per line in file-name order. Regenerate it from the
  * repository root with
  * {{{
  * git checkout 32634fb -- src/main/scala/graft/fic/FicTransform.scala
  * sbt "Test/runMain graft.FicTransformParitySpec src/test/resources/fic-parity"
  * git checkout HEAD -- src/main/scala/graft/fic/FicTransform.scala
  * }}}
  */
class FicTransformParitySpec extends AnyFunSuite {
  import FicTransformParitySpec._

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dir =
    Paths.get(getClass.getResource("/fic-parity/fics.json").toURI).getParent.toString

  /** (path, value) for every leaf; arrays also contribute their size,
    * so a null list, an empty list and a list of nulls all differ.
    */
  private def leaves(v: Any, path: String): Seq[(String, Any)] = v match {
    case r: Row => r.schema.fieldNames.toSeq.zipWithIndex
      .flatMap { case (f, i) => leaves(r.get(i), s"$path.$f") }
    case a: scala.collection.Seq[_] => (s"$path.size" -> a.size) +:
      a.zipWithIndex.flatMap { case (e, i) => leaves(e, s"$path[$i]") }.toSeq
    case other => Seq(path -> other)
  }

  test("every leaf of every document equals the replaced projection's output") {
    spark.sparkContext.setLogLevel("WARN")
    val got = transformed(spark, dir).orderBy("filename")
    val want = spark.read.schema(got.schema).json(s"$dir/expected.json")
      .orderBy("filename").collect()
    val rows = got.collect()
    assert(rows.map(_.getAs[String]("filename")).toSeq ==
      want.map(_.getAs[String]("filename")).toSeq)
    assert(rows.length == 25)
    rows.zip(want).foreach { case (g, w) =>
      val (gl, wl) = (leaves(g, ""), leaves(w, ""))
      assert(gl.map(_._1) == wl.map(_._1), s"shape of ${g.getAs[String]("filename")}")
      // `==` on boxed doubles is numeric equality: exact, no tolerance
      gl.zip(wl).foreach { case ((p, a), (_, b)) =>
        assert(a == b, s"${g.getAs[String]("filename")} $p: got $a, expected $b")
      }
    }
  }

  test("input column order, pass-through columns and transformed types are kept") {
    val raw = FicSources.rawJsonFolder(spark, s"$dir/raw")
      .withColumn("doc_id", concat(lit("id-"), col("filename")))
    val out = transformed(spark, dir)
    assert(out.columns.toSeq == raw.columns.toSeq)
    FicSchema.transformed.fields.foreach { f =>
      assert(out.schema(f.name).dataType.simpleString == f.dataType.simpleString, f.name)
    }
    assert(out.select("filename", "doc_id").collect().forall(r =>
      r.getString(1) == "id-" + r.getString(0)))
  }
}

object FicTransformParitySpec {

  /** The transform over the parity documents, with an extra `doc_id`
    * column riding along.
    */
  def transformed(spark: SparkSession, dir: String): DataFrame =
    FicTransform(
      FicSources.rawJsonFolder(spark, s"$dir/raw")
        .withColumn("doc_id", concat(lit("id-"), col("filename"))),
      FicSources.ficsLookup(s"$dir/fics.json"))

  /** Writes `<dir>/expected.json` from the transform in this tree. */
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    val lines = transformed(spark, dir).orderBy("filename").toJSON.collect()
    Files.writeString(Paths.get(dir, "expected.json"), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
