package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No stage in `src/main` funnels a data-sized input through one task. A
  * window with no `partitionBy` (`Window.orderBy`, or the `W`/`w` alias
  * of it), `coalesce(1)` and `repartition(1)` each run in a single task;
  * a position in a global order comes from `operators.Prefix` instead.
  * The sites left are listed below, per file, each with the bound on the
  * rows that reach its one task. */
class SingleTaskSpec extends AnyFunSuite {

  private val singleTask =
    """\b(Window|W|w)\.orderBy\(|\b(coalesce|repartition)\(1\)""".r

  /** file -> (hits allowed, the row bound that makes them single-task safe) */
  private val allowed = Map(
    "Dedup.scala" -> (3, "df-histogram caps: one row per distinct df level"),
    "TextAnalysis.scala" -> (1, "df-histogram cap: one row per distinct df level"),
    "Kmeans.scala" -> (1, "ranks the centroid set: k rows"),
    "Sessionize.scala" -> (1, "one file per replay chunk, by design"),
    "DocCollection.scala" -> (2, "the fixture's two JSON files"),
    "Verify.scala" -> (1, "the correctness gate's one-file dump per query"))

  private def scalaFiles(root: String): List[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList

  test("no single-task window, coalesce(1) or repartition(1) in src/main outside the bounded sites") {
    val hits = for {
      p <- scalaFiles("src/main").sorted
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if singleTask.findFirstIn(line).isDefined
    } yield (p.getFileName.toString, s"$p:${i + 1}: ${line.trim}")
    val byFile = hits.groupBy(_._1)
    val over = byFile.toSeq.sortBy(_._1).collect {
      case (file, fileHits) if fileHits.size > allowed.get(file).fold(0)(_._1) =>
        s"$file: ${fileHits.size} single-task sites, ${allowed.get(file).fold(0)(_._1)} allowed\n" +
          fileHits.map(_._2).mkString("\n")
    }
    if (over.nonEmpty) fail(over.mkString("\n"))
    // an entry whose sites are gone is stale: the list states only live bounds
    val stale = allowed.collect {
      case (file, (n, _)) if byFile.get(file).fold(0)(_.size) < n => file
    }
    assert(stale.isEmpty, s"allow-list names more sites than exist: ${stale.mkString(", ")}")
  }
}
