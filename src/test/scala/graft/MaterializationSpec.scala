package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** `CacheScope` is the one owner of materialization: no other file in
  * `src/main` persists, caches, checkpoints or unpersists on its own
  * (`LayoutCheckpoint` is the cut's mechanism, which `CacheScope`
  * calls). A raw call elsewhere decides materialization outside the
  * rule the `CacheScope` scaladoc states, and a checkpoint made there
  * is not described by its seam. */
class MaterializationSpec extends SparkSuite {

  private val owners = Set("CacheScope.scala", "LayoutCheckpoint.scala")

  // `CacheScope.persist(` is the owner's own verb, not a raw call
  private val raw =
    """(?<!CacheScope)\.(persist|cache|checkpoint|unpersist)\(|localCheckpoint\(""".r

  private def scalaFiles(root: String): List[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList

  test("no file in src/main outside CacheScope materializes on its own") {
    val hits = for {
      p <- scalaFiles("src/main").sorted
      if !owners(p.getFileName.toString)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if raw.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    if (hits.nonEmpty) fail(s"${hits.size} raw materialization calls:\n" + hits.mkString("\n"))
  }

  test("a cut's SQL execution names its caller's file, for both entry points") {
    val execs = SqlEvents.during(spark.sparkContext) {
      CacheScope.cut(spark.range(10).toDF("id"))
      CacheScope.cut(spark.range(10).toDF("id"), "id")
    }
    val cuts = execs.map(_.description).filter(_.startsWith("cut at "))
    assert(cuts.size >= 2, execs.map(_.description).mkString(", "))
    assert(cuts.forall(_.startsWith("cut at MaterializationSpec.scala:")), cuts.mkString(", "))
  }
}
