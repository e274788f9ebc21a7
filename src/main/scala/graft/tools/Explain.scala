package graft.tools

import org.apache.spark.sql.execution.FormattedMode
import graft.SparkEntry

/** Plan-audit main: print the formatted physical plan of named gate
  * queries (or all of them) against a corpus dir WITHOUT executing —
  * the `.explain("formatted")` pass the scale review runs after
  * correctness goes green.
  *
  * Usage: runMain graft.tools.Explain <sfDir> [name …]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.tools.Explain <sfDir> [name ...]")
      sys.exit(2)
    }
    val sfDir = args.head
    val spark = graft.app.Cli.session("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val all = SparkEntry.queries
    val names = args.drop(1).toSeq
    (if (names.isEmpty) all.keys.toSeq.sorted else names).foreach { name =>
      all.get(name) match {
        case None => println(s"== $name: NOT A REGISTERED QUERY ==")
        case Some(fn) =>
          println(s"\n==== $name ====")
          try println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
          catch { case e: Throwable =>
            println(s"[explain] $name failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
