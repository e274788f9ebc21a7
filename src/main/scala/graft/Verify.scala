package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    // unlock corpus-derived VALUES-literal oracles (BPE train/encode):
    // they are only valid for the sf dir this dump runs against, so the
    // dir is pinned here — the one place oracle SQL is produced
    sys.props(graft.operators.BpeTrainer.OracleDirProp) = sfDir
    val spark = graft.app.Cli.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // dev loop: trailing args restrict the dump to named queries
    // (`runMain graft.Verify <sf> <out> q36_gap_fill`); the driver
    // passes exactly two args, so its contract is unchanged
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      def attempt(): Unit = fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      // one retry: a transient executor/FS hiccup on a single query
      // must not zero that operator's correctness row for the round
      try attempt() catch {
        case e: Throwable =>
          System.err.println(s"[verify] $name failed (${e.getMessage}); retrying")
          try attempt() catch { case e2: Throwable =>
            System.err.println(s"[verify] $name failed: ${e2.getMessage}")
            failures(name) = Option(e2.getMessage).getOrElse(e2.getClass.getName)
          }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failure channel: a query with no output dir would otherwise just
    // VANISH from the round's correctness file (5 rows disappeared in r7
    // when a corpus regeneration broke the events loader) — easy to
    // misread as "queries removed". _errors.json names each query that
    // failed both attempts so the driver/judge can record `err` instead.
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries failed: " +
        failures.keys.mkString(", "))
    graft.operators.SessionMemo.release(spark)
    spark.stop()
  }
}
