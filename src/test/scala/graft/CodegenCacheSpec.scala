package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

/** Runs `q_flagship_curation` twice in one session and prints the
  * generated classes each run compiled, as `compiles <first> <second>`.
  * [[CodegenCacheSpec]] starts it in a fresh JVM, so the first run
  * starts from an empty generated-class cache whatever ran before. */
object CodegenCacheProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val flagship = SparkEntry.queries("q_flagship_curation")
    val counts = (1 to 2).map { _ =>
      val c0 = BenchStats.compiles()
      CacheScope.scoped { flagship(spark, args(0)).count() }
      BenchStats.compiles() - c0
    }
    println(s"compiles ${counts.mkString(" ")}")
    spark.stop()
  }
}

/** The session's generated-class cache holds a whole curation pass:
  * a second run of the flagship in the same JVM compiles (almost)
  * nothing. With Spark's 100-entry default the first run's classes are
  * evicted before the second run asks for them again. */
class CodegenCacheSpec extends SparkSuite {

  test("a second q_flagship_curation run reuses the first run's classes") {
    // the test JVM's flags (module opens, spark.* properties), a smaller heap
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx"))
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(java) ++ jvmArgs ++ Seq("-Xmx2g",
      "-cp", System.getProperty("java.class.path"), "graft.CodegenCacheProbe", sf)
    val proc = new ProcessBuilder(cmd.asJava)
      .directory(new File(".").getAbsoluteFile)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.takeRight(40).mkString("\n"))
    val Seq(first, second) = out.collectFirst {
      case l if l.startsWith("compiles ") => l.split(" ").toSeq.tail.map(_.toLong)
    }.getOrElse(fail(out.takeRight(40).mkString("\n")))
    info(s"generated classes compiled: first run $first, second run $second")
    assert(first > 0)
    assert(second <= first * 0.05,
      s"the first run compiled $first classes, the second $second")
  }
}
