package graft

import org.apache.spark.sql.functions._

import graft.sources.Stage
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
  * cut (40,702 and 69,160 chars at most; 2.9 M and 1.0 M of updates);
  * this spec holds every execution of either composition under a fixed
  * ceiling. The same ceiling holds the pretrain twins, two-level
  * k-means, the distributed CC loop and PageRank, whose persisted rounds
  * nested each other (796,021 chars at the third round on sf0.001; cut,
  * 29,265).
  */
class PlanTextSpec extends SparkSuite {

  /** Fixed per-execution ceilings on the plan description an execution
    * starts with. The prospect build needs more room than the flagship:
    * `surrogateKeyScalable` reads its cached frame twice within one
    * action, so the cut of the build prints that cached plan twice. */
  private val FlagshipCeiling = 64 * 1024
  private val OutboundCeiling = 96 * 1024

  private def assertUnderCeiling(what: String, ceiling: Int,
      execs: Seq[SqlExecution]): Unit = {
    assert(execs.nonEmpty, s"$what ran no SQL execution")
    val worst = execs.maxBy(_.startPlanChars)
    val updates = execs.map(_.updateChars.sum).sum
    info(f"$what: ${execs.size} executions, largest start plan " +
      f"${worst.startPlanChars}%,d chars (${worst.description}), " +
      f"AQE update text $updates%,d chars")
    assert(worst.startPlanChars <= ceiling,
      s"$what: '${worst.description}' started with a ${worst.startPlanChars}-char " +
        s"plan description (ceiling $ceiling)")
  }

  test("flagship curation: every execution starts with a plan under 64 KiB") {
    spark.catalog.clearCache()
    val out = s"${Stage.root}/test_plan_text_flagship"
    val execs = SqlEvents.during(spark.sparkContext) {
      CacheScope.scoped {
        Flagship.curationPipeline(spark, sf).write.mode("overwrite").parquet(out)
      }
    }
    assertUnderCeiling("curationPipeline", FlagshipCeiling, execs)
    assert(spark.read.parquet(out).count() > 0)
  }

  /** Write `df` inside a scope and return the executions it ran. */
  private def written(name: String)(df: => org.apache.spark.sql.DataFrame): Seq[SqlExecution] = {
    spark.catalog.clearCache()
    SqlEvents.during(spark.sparkContext) {
      CacheScope.scoped {
        df.write.mode("overwrite").parquet(s"${Stage.root}/test_plan_text_$name")
      }
    }
  }

  for (q <- Seq("q_pretrain_full", "q_pretrain_capped", "q_graph_pagerank"))
    test(s"$q: every execution starts with a plan under 64 KiB") {
      assertUnderCeiling(q, FlagshipCeiling,
        written(q)(SparkEntry.queries(q)(spark, sf)))
    }

  test("SemDeDup k-means, two-level assignment forced: every plan under 64 KiB") {
    // k = 100 clears Kmeans.DefaultFlatBelow and workBudget = 0 forces the
    // pruned path, so the super-fit and its cuts run on sf0.001
    assertUnderCeiling("assignTwoLevel", FlagshipCeiling, written("two_level") {
      val emb = sources.Tables.load(spark, sf, "embeddings")
      val cents = similarity.Kmeans.fit(emb, k = 100, iters = 2)
        .select(col("cid"), col("cv"))
      similarity.Kmeans.assignTwoLevel(
        similarity.Knn.prepared(emb), cents, workBudget = 0.0)
    })
  }

  test("distributed connected components: every plan under 64 KiB") {
    assertUnderCeiling("connectedComponents", FlagshipCeiling, written("cc_loop") {
      val docs = sources.Tables.load(spark, sf, "documents")
      Dedup.connectedComponents(Dedup.lshCandidates(Dedup.minhashSignatures(
          Dedup.shingles(docs))).select(col("da"), col("db")),
        smallGraphMaxEdges = 0L)
    })
  }

  test("outbound push: every execution starts with a plan under 96 KiB") {
    spark.catalog.clearCache()
    val execs = SqlEvents.during(spark.sparkContext) {
      CacheScope.scoped {
        val r = Outbound.push(spark, sf, s"${Stage.root}/test_plan_text_outbound")
        assert(r.report.ok, s"reconcile report not clean: ${r.report}")
        assert(r.docs.where(col("leadid").isNotNull).count() > 0)
      }
    }
    assertUnderCeiling("Outbound.push", OutboundCeiling, execs)
  }
}
