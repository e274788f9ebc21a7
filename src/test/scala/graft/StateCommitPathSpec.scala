package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every persisted state root — the five drop indexes and the three
  * streaming sketches — commits through `StreamingState.fold` and
  * compacts through `StreamingState.compactDeltas`, so the open check,
  * replay detection by marker and the atomic commit hold for all of
  * them by construction. This scan of the main sources keeps a second
  * commit path from growing back: outside `StreamingState.scala` no
  * code line calls `commitAppend` or `checkpointDeltas` or names a
  * marker path (`commits/<id>`, `checkpoints/<id>`, `_graft_published`),
  * and the eight state-root owners each fold. Comment lines are
  * skipped.
  */
class StateCommitPathSpec extends AnyFunSuite {

  private def codeLines(p: Path): Seq[(String, Int)] =
    Files.readAllLines(p).asScala.zipWithIndex.toSeq.filterNot { case (l, _) =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }

  test("state roots commit only through StreamingState.fold and compactDeltas") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root missing")
    val state = root.resolve("graft/streaming/StreamingState.scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != state).toSeq
    val forbidden = """\b(commitAppend|checkpointDeltas)\b|\b(commits|checkpoints)/|_graft_published""".r
    val hits = sources.flatMap { p =>
      codeLines(p).collect { case (l, i) if forbidden.findFirstIn(l).isDefined =>
        s"$p:${i + 1}: ${l.trim}" }
    }
    assert(hits.isEmpty, s"commit or marker code outside StreamingState:\n${hits.mkString("\n")}")
    val folding = sources.filter(p => codeLines(p).exists(_._1.contains("StreamingState.fold(")))
      .map(_.getFileName.toString).toSet
    assert(folding === Set("IncrementalDedup.scala", "IncrementalCluster.scala",
      "IncrementalSpanIndex.scala", "IncrementalAnn.scala", "IncrementalQuality.scala",
      "StreamingCms.scala", "StreamingHll.scala", "StreamingQuantile.scala"))
  }
}
