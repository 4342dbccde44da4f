package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (lazy; one JVM-wide session is reused across
  * suites via getOrCreate). Built by [[GraftSession.builder]], so tests
  * run under exactly the keys the mains run under. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  lazy val sf: String = "/root/testdata/sf0.001"
}

/** Runs a main of this classpath in a fresh JVM, with the test JVM's
  * flags (module opens, spark.* properties) except its heap size and
  * collector, plus `jvmFlags`; returns its combined output lines, or
  * fails the test with their tail if it exits non-zero. */
object ChildJvm {
  import org.scalatest.Assertions.assert

  def run(mainClass: String, jvmFlags: Seq[String], args: String*): List[String] = {
    val inherited = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.matches("-XX:\\+Use\\w+GC"))
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
    val cmd = Seq(javaBin.toString) ++ inherited ++ jvmFlags ++
      Seq("-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val proc = new ProcessBuilder(cmd.asJava)
      .directory(new File(".").getAbsoluteFile)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.takeRight(40).mkString("\n"))
    out
  }
}
