package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.app.RunLog

/** The level-split run-log artifact (reference settings.py:34-71):
  * handler cascade, line shape, bounded quarantine summaries, and the
  * env/property-driven opt-in through a real CLI stage.
  */
class RunLogSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def lines(dir: String, file: String): Seq[String] = {
    val p = Paths.get(dir, file)
    if (Files.exists(p))
      Files.readAllLines(p).toArray.toSeq.map(_.toString)
    else Nil
  }

  test("each level file captures its level and above (the handler cascade)") {
    val dir = Files.createTempDirectory("runlog").toString
    val log = RunLog.open(dir, "spec")
    log.info("i"); log.warning("w"); log.error("e"); log.critical("c")
    log.close()
    assert(lines(dir, "info.log").size == 4)
    assert(lines(dir, "warning.log").size == 3)
    assert(lines(dir, "error.log").size == 2)
    assert(lines(dir, "critical.log").size == 1)
    // reference line shape: asctime - name - LEVEL - message
    val shape = """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} - spec - \w+ - .+""".r
    lines(dir, "info.log").foreach(l => assert(shape.matches(l), l))
    assert(lines(dir, "error.log").map(_.split(" - ", 4).last) == Seq("e", "c"))
  }

  test("reopening appends instead of truncating (multi-stage runs share files)") {
    val dir = Files.createTempDirectory("runlog").toString
    val a = RunLog.open(dir, "stage1"); a.info("first"); a.close()
    val b = RunLog.open(dir, "stage2"); b.info("second"); b.close()
    assert(lines(dir, "info.log").map(_.split(" - ", 4).last) ==
      Seq("first", "second"))
  }

  test("quarantine summary is per-kind, capped, and counts everything") {
    import spark.implicits._
    val dir = Files.createTempDirectory("runlog").toString
    val df = (1 to 120).map { i =>
      val err = if (i <= 70) "timeout" else if (i <= 110) "parse" else null
      (i.toLong, err)
    }.toDF("id", "error")
    val log = RunLog.open(dir, "spec")
    val n = RunLog.logQuarantine(Some(log), df, "error", "stage")
    log.close()
    assert(n == 110)
    val errs = lines(dir, "error.log")
    assert(errs.size == 2)
    assert(errs.head.contains("70 row(s): timeout"))
    assert(errs(1).contains("40 row(s): parse"))
    // cap: a pathological per-row-unique error column stays bounded
    val unique = (1 to 200).map(i => (i.toLong, s"err-$i")).toDF("id", "error")
    val dir2 = Files.createTempDirectory("runlog").toString
    val log2 = RunLog.open(dir2, "spec")
    val n2 = RunLog.logQuarantine(Some(log2), unique, "error", "stage")
    log2.close()
    assert(n2 == 200)
    assert(lines(dir2, "error.log").size == RunLog.MaxErrorKinds + 1)
  }

  test("a CLI stage writes the artifact when the run opts in") {
    val dir = Files.createTempDirectory("runlog").toString
    val out = Files.createTempDirectory("runlog_out").toString
    sys.props(RunLog.LogPathProp) = dir
    try {
      val raw = graft.sources.FicSources.rawJsonFolder(
        spark, ParityFixture.rawDir)
      graft.app.GraftTransform
        .transformAndWrite(raw, graft.fic.FicLookup(Nil), out, "json_raw_2025_07")
        .unpersist()
    } finally sys.props.remove(RunLog.LogPathProp)
    val info = lines(dir, "info.log") ++ lines(dir, "warning.log")
    assert(info.exists(_.contains("transform complete:")), info.mkString("\n"))
  }
}
