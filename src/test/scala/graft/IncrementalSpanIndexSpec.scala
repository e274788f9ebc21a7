package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.IncrementalSpanIndex

/** The cross-drop verbatim-quote scenario (r11, VERDICT #6): a
  * ≥MinSpan-token passage planted in one drop and quoted — at a
  * DIFFERENT token offset, inside otherwise unrelated text — in a
  * later drop must surface as a maximal span from the persisted
  * window index alone (the first drop's text is never re-read), with
  * exact offsets and length; replayed batches append nothing and
  * report nothing.
  */
class IncrementalSpanIndexSpec extends AnyFunSuite {

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

  // a 60-token quote (≥ MinSpan = 50) and two disjoint fillers — no
  // 20-token window repeats anywhere except inside the quote copies
  private val quote = (1 to 60).map(i => s"q$i").mkString(" ")
  private val filler1 = (1 to 60).map(i => s"f$i").mkString(" ")
  private val filler2 = (1 to 25).map(i => s"g$i").mkString(" ")
  private val filler3 = (1 to 10).map(i => s"z$i").mkString(" ")

  test("a quote planted across two drops surfaces from the persisted index alone") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("span_idx")
      .resolve("index").toString

    // drop 1: doc 1 carries the quote after 60 filler tokens; doc 2 is
    // unrelated — no spans yet
    val drop1 = Seq(
      (1L, s"$filler1 $quote $filler2"),
      (2L, (1 to 40).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val s1 = IncrementalSpanIndex.probeAndUpdate(drop1, idx)
    assert(s1.count() === 0)
    s1.unpersist()
    val indexed1 = IncrementalSpanIndex.readIndex(spark, idx).count()
    assert(indexed1 > 0)
    // the stored fingerprint of one fixed window ("u1 … u20"): a
    // window-hash change would orphan every existing index
    val h64 = IncrementalSpanIndex.readIndex(spark, idx)
      .filter("doc_id = 2 AND pos = 1").select("h64").head().getLong(0)
    assert(h64 === 1121449428756991352L)

    // drop 2: doc 3 quotes the same passage after 10 different filler
    // tokens — the match must come from doc 1's PERSISTED windows
    val drop2 = Seq((3L, s"$filler3 $quote")).toDF("doc_id", "text")
    val s2 = IncrementalSpanIndex.probeAndUpdate(drop2, idx).collect()
    assert(s2.length === 1)
    val r = s2.head
    assert(r.getLong(0) === 1L)   // doc_a
    assert(r.getLong(1) === 3L)   // doc_b
    assert(r.getLong(2) === 61L)  // start_a: quote starts after 60 filler tokens
    assert(r.getLong(3) === 11L)  // start_b: after 10 filler tokens
    assert(r.getLong(4) === 60L)  // maximal span = the whole quote

    // replay of drop 2 (same ids, streaming retry): appends nothing,
    // reports nothing
    val before = IncrementalSpanIndex.readIndex(spark, idx).count()
    val s3 = IncrementalSpanIndex.probeAndUpdate(drop2, idx)
    assert(s3.count() === 0)
    s3.unpersist()
    assert(IncrementalSpanIndex.readIndex(spark, idx).count() === before)
  }

  test("periodic windows never seed: the intra-doc occurrence cap holds incrementally") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("span_idx2")
      .resolve("index").toString
    // one 20-token phrase repeated 25 times in doc 10 (> SpanOccCap=20)
    // and once in doc 11: the shared windows are capped out of seeding,
    // so no span is reported despite massive verbatim overlap
    val phrase = (1 to 20).map(i => s"p$i").mkString(" ")
    val periodic = Seq.fill(25)(phrase).mkString(" ")
    val d1 = Seq((10L, periodic)).toDF("doc_id", "text")
    IncrementalSpanIndex.probeAndUpdate(d1, idx).unpersist()
    val d2 = Seq((11L, s"$filler3 $phrase $filler2")).toDF("doc_id", "text")
    val spans = IncrementalSpanIndex.probeAndUpdate(d2, idx)
    assert(spans.count() === 0)
    spans.unpersist()
  }
}
