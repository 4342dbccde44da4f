package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{CutScanExec, DataFrame}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.text.{Dedup, Pipelines}

/** Round-19 plan assertions (r18 verdict #5): the two pinned
  * REPARTITION_BY_NUM caches must be REUSED by their shuffling
  * consumers — the claims "exchange-free banded self-join"
  * (Dedup.simhashPairs) and "exchange-free, sort-free edge side of the
  * min-label round" (Dedup.connectedComponents) are asserted against
  * the executed physical plans, at a configuration where the joins
  * SHUFFLE (auto-broadcast off — at oracle SFs the committed plan dumps
  * show broadcasts, which is why the claims need a spec, not a dump).
  * Both tests run under the production session's
  * canChangeCachedPlanOutputPartitioning=true so the pin is exercised
  * against AQE's cached-plan re-optimization, and both fail if the
  * repartition/sortWithinPartitions pin is dropped from the operator.
  * The lexical ladder's seam cuts (`CacheScope.cut`) carry the same
  * claim for checkpoints: its doc_id joins read the cut side with no
  * Exchange, which fails if the cut stops declaring its hash layout.
  */
class Round19PlanSpec extends SparkSuite {

  private def shuffles(nodes: Seq[SparkPlan]): Seq[SparkPlan] =
    nodes.filter(_.isInstanceOf[ShuffleExchangeLike])

  private def withProdConfs(body: => Unit): Unit =
    withConfs(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** Executed plans of every SQL execution `body` runs — the eager cuts'
    * included, whose joins exist in no plan the caller can reach. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq
  }

  /** The cut scans a plan reads without crossing a shuffle. */
  private def unshuffledScans(p: SparkPlan): Seq[CutScanExec] = p match {
    case _: ShuffleExchangeLike => Nil
    case s: CutScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => unshuffledScans(a.executedPlan)
    case q: QueryStageExec => unshuffledScans(q.plan)
    case r: ReusedExchangeExec => unshuffledScans(r.child)
    case o => o.children.flatMap(unshuffledScans)
  }

  /** The executed join node both of whose subtrees scan an in-memory
    * (cached) relation — the consumer the pin exists for. */
  private def cachedJoin(df: DataFrame,
      bothSides: Boolean): BaseJoinExec = {
    val nodes = allPlanNodes(df.queryExecution.executedPlan)
    val joins = nodes.collect {
      case j: BaseJoinExec
          if {
            val sides = j.children.map(c =>
              allPlanNodes(c).exists(_.isInstanceOf[InMemoryTableScanExec]))
            if (bothSides) sides.forall(identity) else sides.exists(identity)
          } => j
    }
    assert(joins.nonEmpty, "expected a join over the pinned cache; plan:\n" +
      df.queryExecution.executedPlan.toString)
    joins.head
  }

  test("simhashPairs: banded self-join reuses the pinned cache, no runtime exchange") {
    // drop caches leaked by earlier suites in the shared session: a
    // cached pairs frame from another test would make CacheManager
    // substitute the whole query with an InMemoryTableScan compiled
    // under THAT suite's confs, hiding the join this test asserts on
    spark.catalog.clearCache()
    withProdConfs {
      CacheScope.scoped {
        val docs = sources.Tables.load(spark, sf, "documents")
        val out = Dedup.simhashPairs(Dedup.simhash(docs), maxHamming = 6)
        out.count()
        val join = cachedJoin(out, bothSides = true)
        val below = join.children.flatMap(allPlanNodes(_))
        assert(shuffles(below).isEmpty,
          s"banded self-join must consume the pinned cache layout on both " +
            s"sides with no Exchange; got:\n$join")
      }
      spark.catalog.clearCache()
    }
  }

  test("connectedComponents round join: edge side exchange-free and sort-free") {
    spark.catalog.clearCache() // see above: shared-session cache hygiene
    withProdConfs {
      CacheScope.scoped {
        import spark.implicits._
        // 3k-edge chain-of-cliques graph: big enough that the 4-partition
        // layout is exercised, tiny enough for a unit test
        val pairs = (0L until 3000L).map(i => (i / 3, i / 3 + (i % 3) + 1))
          .toDF("da", "db")
        val edges = Dedup.ccEdges(pairs)
        // the init aggregation is keyed on dst precisely to reuse the
        // cached layout: zero shuffles in its whole plan
        val labels0 = edges.groupBy(col("dst"))
          .agg(min(col("src")).as("nb0"))
          .select(col("dst").as("node"),
            least(col("dst"), col("nb0")).as("component"))
        labels0.count()
        assert(shuffles(
          allPlanNodes(labels0.queryExecution.executedPlan)).isEmpty,
          "CC init aggregation must reuse the pinned hash(dst) cache")
        val labels = labels0.localCheckpoint(true)
        val nbMin = Dedup.ccNeighborMin(edges, labels)
        nbMin.count()
        val join = cachedJoin(nbMin, bothSides = false)
        val Seq(left, right) = join.children.map(allPlanNodes(_))
        val edgeSide =
          if (left.exists(_.isInstanceOf[InMemoryTableScanExec])) left else right
        assert(shuffles(edgeSide).isEmpty,
          "the corpus-sized edge side must not re-shuffle per round")
        assert(!edgeSide.exists(_.isInstanceOf[SortExec]),
          "the edge side must reuse the cached sortWithinPartitions(dst) order")
      }
      spark.catalog.clearCache()
    }
  }

  test("lexicalClean: the doc_id joins read each seam cut with no Exchange") {
    spark.catalog.clearCache() // see above: shared-session cache hygiene
    withProdConfs {
      val plans = executedPlans {
        CacheScope.scoped {
          val docs = sources.Tables.load(spark, sf, "documents")
          assert(Pipelines.lexicalClean(docs, capped = true).count() > 0)
        }
      }
      // the cuts by their columns: the corpus (corpus0, corpus1) carries
      // text, shC is (doc_id, s), keepers is (doc_id)
      def cols(s: CutScanExec) = s.output.map(_.name)
      val corpus = (s: CutScanExec) => cols(s).contains("text")
      val shingles = (s: CutScanExec) => cols(s) == Seq("doc_id", "s")
      val keepers = (s: CutScanExec) => cols(s) == Seq("doc_id")
      def reads(side: SparkPlan, cut: CutScanExec => Boolean) =
        allPlanNodes(side).exists {
          case s: CutScanExec => cut(s)
          case _ => false
        }
      def unshuffled(side: SparkPlan, cut: CutScanExec => Boolean) =
        unshuffledScans(side).exists(cut)
      // the sh1 semi join runs under the CC edge cache's plan
      val joins = plans.flatMap(allPlanNodes(_, throughCaches = true))
        .collect { case j: BaseJoinExec => j }
      val checks = Seq(
        // s3: corpus0 anti the containment and span drops
        ("s3 anti join over corpus0", joins.filter(j => j.joinType == LeftAnti &&
          reads(j.left, corpus) && !reads(j.left, keepers)),
          (j: BaseJoinExec) => unshuffled(j.left, corpus)),
        // sh1: shC semi the corpus1 ids (both sides are cuts)
        ("sh1 semi join over shC", joins.filter(j => j.joinType == LeftSemi &&
          reads(j.left, shingles) && reads(j.right, corpus)),
          (j: BaseJoinExec) => unshuffled(j.left, shingles) && unshuffled(j.right, corpus)),
        // corpus2: corpus1 ⋈ keepers (both sides are cuts)
        ("corpus2 join over corpus1", joins.filter(j => j.joinType == Inner &&
          reads(j.left, corpus) && reads(j.right, keepers)),
          (j: BaseJoinExec) => unshuffled(j.left, corpus) && unshuffled(j.right, keepers)))
      checks.foreach { case (what, found, cutSideUnshuffled) =>
        assert(found.nonEmpty, s"no $what in the ${plans.size} executed plans")
        found.foreach(j => assert(cutSideUnshuffled(j),
          s"$what must read the cut side with no Exchange; got:\n$j"))
      }
      spark.catalog.clearCache()
    }
  }
}
