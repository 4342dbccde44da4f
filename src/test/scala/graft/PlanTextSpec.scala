package graft

import org.apache.spark.sql.functions._

import graft.text.Dedup

/** Plan-text guard for the two compositions that cut lineage at seams.
  * Every cached `InMemoryRelation` prints its whole cached plan, and AQE
  * re-prints the plan ("Initial" and "Final" copies) at every nesting
  * level, so persists nested seam over seam made the driver render
  * megabytes of plan text per pass. On sf0.001 with persisted seams the
  * flagship's s6 checkpoint started with a 708,617-char plan description
  * (29.4 M chars of AQE updates in the composition), and
  * `Outbound.push`'s reconcile with a 580,532-char one (7.7 M). With the
  * seams cut (`CacheScope.cut`) and `Kmeans.fit`'s centroid rounds
  * checkpointed, each downstream plan starts at a one-line scan of the
  * cut (41,656 and 47,656 chars at most; 2.2 M and 0.8 M of updates);
  * this spec holds every execution of either composition under a fixed
  * ceiling. The same ceiling holds the pretrain twins, two-level
  * k-means, the distributed CC loop and PageRank, whose persisted rounds
  * nested each other (796,021 chars at the third round on sf0.001; cut,
  * 29,265), and `operators.Prefix` at 2000 shuffle partitions, whose
  * offsets print one array entry per partition (~60,600 chars).
  */
class PlanTextSpec extends SparkSuite {

  /** The fixed per-execution ceiling on the plan description an
    * execution starts with. `Outbound.push` fits it since the surrogate
    * key cuts its ranked rows instead of persisting them (the persist's
    * cached plan printed twice into the build's cut: 70,681 chars at
    * most on sf0.001, now 47,656). */
  private val Ceiling = 64 * 1024

  private def assertUnderCeiling(what: String, execs: Seq[SqlExecution]): Unit = {
    assert(execs.nonEmpty, s"$what ran no SQL execution")
    val worst = execs.maxBy(_.startPlanChars)
    val updates = execs.map(_.updateChars.sum).sum
    info(f"$what: ${execs.size} executions, largest start plan " +
      f"${worst.startPlanChars}%,d chars (${worst.description}), " +
      f"AQE update text $updates%,d chars")
    assert(worst.startPlanChars <= Ceiling,
      s"$what: '${worst.description}' started with a ${worst.startPlanChars}-char " +
        s"plan description (ceiling $Ceiling)")
  }

  test("flagship curation: every execution starts with a plan under 64 KiB") {
    spark.catalog.clearCache()
    val out = scratch("plan_text_flagship")
    val execs = SqlEvents.during(spark.sparkContext) {
      CacheScope.scoped {
        Flagship.curationPipeline(spark, sf).write.mode("overwrite").parquet(out)
      }
    }
    assertUnderCeiling("curationPipeline", execs)
    assert(spark.read.parquet(out).count() > 0)
  }

  /** Write `df` inside a scope and return the executions it ran. */
  private def written(name: String)(df: => org.apache.spark.sql.DataFrame): Seq[SqlExecution] = {
    spark.catalog.clearCache()
    SqlEvents.during(spark.sparkContext) {
      CacheScope.scoped {
        df.write.mode("overwrite").parquet(scratch(s"plan_text_$name"))
      }
    }
  }

  for (q <- Seq("q_pretrain_full", "q_pretrain_capped", "q_graph_pagerank"))
    test(s"$q: every execution starts with a plan under 64 KiB") {
      assertUnderCeiling(q, written(q)(SparkEntry.queries(q)(spark, sf)))
    }

  test("SemDeDup k-means, two-level assignment forced: every plan under 64 KiB") {
    // k = 100 clears Kmeans.DefaultFlatBelow and workBudget = 0 forces the
    // pruned path, so the super-fit and its cuts run on sf0.001
    assertUnderCeiling("assignTwoLevel", written("two_level") {
      val emb = sources.Tables.load(spark, sf, "embeddings")
      val cents = similarity.Kmeans.fit(emb, k = 100, iters = 2)
        .select(col("cid"), col("cv"))
      similarity.Kmeans.assignTwoLevel(
        similarity.Knn.prepared(emb), cents, workBudget = 0.0)
    })
  }

  test("distributed connected components: every plan under 64 KiB") {
    assertUnderCeiling("connectedComponents", written("cc_loop") {
      val docs = sources.Tables.load(spark, sf, "documents")
      Dedup.connectedComponents(Dedup.lshCandidates(Dedup.minhashSignatures(
          Dedup.shingles(docs))).select(col("da"), col("db")),
        smallGraphMaxEdges = 0L)
    })
  }

  test("Prefix at 2000 shuffle partitions: every plan under 64 KiB") {
    // the offsets print as a literal array, one entry per range partition;
    // a measure of 10^9 gives every offset the digits of a large run's
    withConfs("spark.sql.shuffle.partitions" -> "2000",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val rows = spark.range(100000).toDF("k")
      assert(rows.repartitionByRange(col("k")).rdd.getNumPartitions == 2000)
      assertUnderCeiling("Prefix", written("prefix_2000") {
        operators.Prefix(rows, Seq(col("k")), lit(1000000000L))._1
          .where(col("start") % 7 === 0)
      })
    }
  }

  test("outbound push: every execution starts with a plan under 64 KiB") {
    spark.catalog.clearCache()
    val execs = SqlEvents.during(spark.sparkContext) {
      CacheScope.scoped {
        val r = Outbound.push(spark, sf, scratch("plan_text_outbound"))
        assert(r.report.ok, s"reconcile report not clean: ${r.report}")
        assert(r.docs.where(col("leadid").isNotNull).count() > 0)
      }
    }
    assertUnderCeiling("Outbound.push", execs)
  }
}
