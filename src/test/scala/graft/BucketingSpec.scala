package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.sources.Bucketing

class BucketingSpec extends SparkSuite {

  test("bucketed join plans without shuffling either join side") {
    val df = Bucketing.coLocatedOrderJoin(spark, sf)
    df.count() // materialize through AQE so the final plan is real
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
    // the only exchange allowed is the post-join aggregation's (none for
    // the join inputs): the join keys are bucket-distributed already —
    // and since the aggregation is on the join key, even that collapses
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 0, s"found $exchanges shuffles in:\n$plan")
  }

  test("stageBucketed: one file per bucket, scope-managed cleanup") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, s"v$i")).toDF("k", "v")
    var path: java.io.File = null
    CacheScope.scoped {
      val staged = Bucketing.stageBucketed(df, "bucketing_spec", 4, Seq("k"))
      assert(staged.count() == 1000L)
      val scans = staged.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f }
      // a bare count reads the table unbucketed (auto-bucketed-scan
      // elides the layout when nothing consumes it) — the layout itself
      // is on the relation; its join-side use is asserted in VerifySpec
      // and TextDedupSpec
      assert(scans.head.relation.bucketSpec.exists(_.numBuckets == 4))
      path = scans.head.relation.location.rootPaths.head
        .toUri.getPath match { case p => new java.io.File(p) }
      // the repartition-before-write contract: each bucket is ONE file,
      // which is what lets the scan expose the per-bucket sort order
      val parts = path.listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.length <= 4 && parts.length > 0, parts.mkString(","))
      assert(parts.map(_.getName).distinct.length == parts.length)
    }
    // scope exit dropped the table and deleted the staged files
    assert(!path.exists(), s"staged files survived the scope: $path")
    val leaked = spark.catalog.listTables()
      .filter(col("name").startsWith("graft_stage_bucketing_spec")).count()
    assert(leaked == 0, "staged table survived the scope")
  }

  test("stageBucketed: tags with identifier-hostile characters stage cleanly") {
    import spark.implicits._
    // a tag derived from an input dir like data/sf0.1 carries a
    // dot, which an unquoted saveAsTable parses as a schema separator
    CacheScope.scoped {
      val staged = Bucketing.stageBucketed(
        Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "inc./sf0.1", 2, Seq("k"))
      assert(staged.count() == 2L)
    }
  }
}
