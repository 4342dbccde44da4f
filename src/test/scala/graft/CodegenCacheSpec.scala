package graft

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
    val out = ChildJvm.run("graft.CodegenCacheProbe", Seq("-Xmx2g"), sf)
    val Seq(first, second) = out.collectFirst {
      case l if l.startsWith("compiles ") => l.split(" ").toSeq.tail.map(_.toLong)
    }.getOrElse(fail(out.takeRight(40).mkString("\n")))
    info(s"generated classes compiled: first run $first, second run $second")
    assert(first > 0)
    assert(second <= first * 0.05,
      s"the first run compiled $first classes, the second $second")
  }
}
