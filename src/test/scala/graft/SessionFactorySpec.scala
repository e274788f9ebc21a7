package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through `Cli.session`, so the shared
  * conf (cores, shuffle partitions, UTC, UI off, timeouts) has one home.
  * This scan of the main sources keeps new builder sites from growing
  * back: the only code line naming `SparkSession.builder` is the one
  * inside `Cli.session`. Comment lines are skipped (scaladoc may show a
  * user's own builder call).
  */
class SessionFactorySpec extends AnyFunSuite {

  private def codeLines(p: Path): Seq[(String, Int)] =
    Files.readAllLines(p).asScala.zipWithIndex.toSeq.filterNot { case (l, _) =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }

  test("Cli.session is the only SparkSession.builder in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root missing")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = sources.flatMap { p =>
      codeLines(p).collect { case (l, i) if l.contains("SparkSession.builder") => (p, i) }
    }
    val cli = root.resolve("graft/app/Cli.scala")
    assert(hits.map(_._1) === Seq(cli), s"builder sites outside Cli.session: $hits")
    val defs = codeLines(cli).collect { case (l, i) if l.trim.startsWith("def ") => (l.trim, i) }
    val enclosing = defs.filter(_._2 < hits.head._2).last._1
    assert(enclosing.startsWith("def session("), s"builder sits in `$enclosing`")
  }
}
