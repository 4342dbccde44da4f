package graft

/** Runs the registry query `args(1)` twice in one session over `args(0)`
  * and prints the generated classes each run compiled, as
  * `compiles <first> <second>`. [[CodegenCacheSpec]] starts it in a
  * fresh JVM, so the first run starts from an empty generated-class
  * cache whatever ran before. */
object CodegenCacheProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val query = SparkEntry.queries(args(1))
    val counts = (1 to 2).map { _ =>
      val c0 = BenchStats.compiles()
      CacheScope.scoped { query(spark, args(0)).count() }
      BenchStats.compiles() - c0
    }
    println(s"compiles ${counts.mkString(" ")}")
    spark.stop()
  }
}

/** The session's generated-class cache holds a whole pass: a second run
  * of a query in the same JVM compiles (almost) nothing. With Spark's
  * 100-entry default the flagship's classes are evicted before the
  * second run asks for them again. A stream runs on a clone of the
  * session; with Spark's per-session artifact class loaders its tasks
  * compiled every class again on each run. */
class CodegenCacheSpec extends SparkSuite {

  private def secondRunReuses(query: String): Unit = {
    val out = ChildJvm.run("graft.CodegenCacheProbe", Seq("-Xmx2g"), sf, query)
    val Seq(first, second) = out.collectFirst {
      case l if l.startsWith("compiles ") => l.split(" ").toSeq.tail.map(_.toLong)
    }.getOrElse(fail(out.takeRight(40).mkString("\n")))
    info(s"generated classes compiled: first run $first, second run $second")
    assert(first > 0)
    assert(second <= first * 0.05,
      s"the first run compiled $first classes, the second $second")
  }

  test("a second q_flagship_curation run reuses the first run's classes") {
    secondRunReuses("q_flagship_curation")
  }

  test("a second q_stream_transform_state run reuses the first run's classes") {
    secondRunReuses("q_stream_transform_state")
  }
}
