package graft

/** Plan-inspection main: prints `.explain("formatted")` for the named
  * queries (or all) — the scale-review loop: check pushdown, broadcast
  * choices, and shuffle counts before trusting a plan at 100 TB.
  * Every query is built through the registry; building
  * `q_flagship_curation` runs its eager seams first (a few seconds at
  * sf0.01, see `Flagship.curationPipeline`). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val wanted = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    wanted.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
