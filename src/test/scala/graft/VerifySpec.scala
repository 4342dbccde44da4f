package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

import graft.text.Dedup

/** The pair family's verify stage (`Dedup.verifiedCommon`) by its
  * contract: the three-way dispatch on the hash-set frame's size — one
  * broadcast, two-phase broadcast (32-bit screen, 64-bit confirm of the
  * survivors), two-phase bucketed — gives identical pairs on every leg
  * for all four verified operators, at the fence values that select
  * each leg (default, mid-octave, est32, est32 − 1, 0); the legs' plan
  * shapes; and the `GenScale.widenText` invariants that make the
  * default-fence handoff reachable at an on-disk-feasible corpus size
  * (`tools/campaign.sh` leg `autodispatch` is the boundary tests'
  * measurement twin).
  */
class VerifySpec extends SparkSuite {

  private def docs = sources.Tables.load(spark, sf, "documents")

  private def widened(w: Int): DataFrame =
    docs.withColumn("text", GenScale.widenText(w))
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** The dispatch's own size estimates `(est32, est64)` for a shingle
    * frame, so a test can place the fence at or between them. */
  private def estimates(sh: DataFrame): (Long, Long) =
    Dedup.verifyEstimates(Dedup.docHashSets(Dedup.hashedPostings(sh)))

  private def withFence[T](fence: Long)(body: => T): T =
    withConfs(Dedup.VerifyBroadcastBytesKey -> fence.toString)(body)

  private def bucketedScan(p: SparkPlan): Boolean = p match {
    case f: FileSourceScanExec => f.bucketedScan
    case _ => false
  }

  /** The bucketed-verify join contract: each join consuming the bucketed
    * hash-set stage must be a SHUFFLED HASH join (not SMJ — SMJ would
    * sort the probe, and join 2's probe is the wide candidate×array
    * intermediate), building on the bucketed side with no exchange and
    * no sort in the build chain, and with no sort anywhere in the probe
    * chain down to its exchange (SHJ needs only distribution). Returns
    * how many such joins were checked. */
  private def assertShjBucketBuilds(plan: SparkPlan): Int = {
    val joins = plan.collect { case j: ShuffledHashJoinExec => j }
      .flatMap { j =>
        val (build, probe) =
          if (j.buildSide == BuildLeft) (j.left, j.right) else (j.right, j.left)
        chainToBucketScan(build).map { case (chain, _) => (chain, probe) }
      }
    joins.foreach { case (buildChain, probe) =>
      assert(!buildChain.exists(_.isInstanceOf[ShuffleExchangeExec]),
        "bucketed build side re-shuffles")
      assert(!buildChain.exists(_.isInstanceOf[SortExec]),
        "bucketed build side re-sorts")
      // probe chain: walk unary parents down to the first exchange —
      // SHJ must not have inserted ordering machinery above it
      var p = probe
      while (p.children.size == 1 &&
          !p.isInstanceOf[ShuffleExchangeExec]) {
        assert(!p.isInstanceOf[SortExec], s"probe side sorts:\n$p")
        p = p.children.head
      }
    }
    joins.size
  }

  test("verify broadcast-bytes knob: conf read with library default") {
    // unset -> 1.5e9 default path (broadcast on the tiny test corpus);
    // the value is read per-call so benches can flip it mid-session
    assert(spark.conf.get(Dedup.VerifyBroadcastBytesKey, "1.5e9") == "1.5e9")
  }

  test("dispatch boundary arithmetic: est32 halves the posting term, not the row term") {
    // 1000 rows, 100k postings: est64 = 48k + 800k, est32 = 48k + 400k —
    // the octave the middle leg buys is exactly the posting-dominated
    // regime where the screen shrinks what matters
    val (est32, est64) = Dedup.verifyEstimates(
      spark.range(1000).select(col("id").as("doc_id"), lit(100L).as("n")))
    assert(est64 == 848000L && est32 == 448000L)
    assert(est32 > est64 / 2, "row overhead keeps est32 above half")
  }

  test("verify dispatch: bucketed path output is identical to broadcast path") {
    CacheScope.scoped {
      val viaBroadcast = Dedup.containmentPairsCapped(
        Dedup.shingles(docs), threshold = 0.5).collect().toSet
      withFence(0) {
        val viaBucketed = Dedup.containmentPairsCapped(
          Dedup.shingles(docs), threshold = 0.5).collect().toSet
        assert(viaBucketed == viaBroadcast)
        assert(viaBroadcast.nonEmpty) // vacuity guard
      }
    }
  }

  test("prefix-filtered jaccard + prefix containment: bucketed two-phase output identical to broadcast") {
    CacheScope.scoped {
      val shingles = Dedup.shingles(docs)
      val jB = Dedup.prefixJaccardPairs(shingles, 0.5).collect().toSet
      val cB = Dedup.prefixContainmentPairs(shingles, 0.5).collect().toSet
      withFence(0) {
        assert(Dedup.prefixJaccardPairs(shingles, 0.5).collect().toSet == jB)
        assert(Dedup.prefixContainmentPairs(shingles, 0.5).collect().toSet == cB)
      }
      assert(jB.nonEmpty && cB.nonEmpty)
    }
  }

  test("ngram jaccard rare-postings path: bucketed two-phase output identical to broadcast") {
    CacheScope.scoped {
      // directPairBudget = 0 pins the rare-postings (verify-stage) path
      val shingles = Dedup.shingles(docs)
      val viaB = Dedup.jaccardPairs(shingles, dfCap = 10, threshold = 0.5,
        directPairBudget = 0L).collect().toSet
      withFence(0) {
        val viaS = Dedup.jaccardPairs(shingles, dfCap = 10, threshold = 0.5,
          directPairBudget = 0L).collect().toSet
        assert(viaS == viaB)
      }
      assert(viaB.nonEmpty)
    }
  }

  test("middle-octave fence: two-phase broadcast verify output identical to single-phase broadcast and bucketed") {
    CacheScope.scoped {
      val sh = Dedup.shingles(docs)
      val (est32, est64) = estimates(sh)
      assert(est32 < est64, "fixture must have non-empty postings")
      def run(): Set[Row] =
        Dedup.containmentPairsCapped(sh, threshold = 0.5).collect().toSet
      val viaBroadcast = run() // default fence 1.5e9 >> est64 at sf0.001
      withFence((est32 + est64) / 2) {
        assert(run() == viaBroadcast,
          "two-phase broadcast output diverged from single-phase")
      }
      withFence(0) {
        assert(run() == viaBroadcast,
          "bucketed output diverged from single-phase")
      }
      assert(viaBroadcast.nonEmpty, "fixture produced no containment pairs — vacuous")
    }
  }

  test("middle-octave fence: prefix jaccard + ngram rare-postings identical across all three dispatches") {
    CacheScope.scoped {
      val sh = Dedup.shingles(docs)
      val (est32, est64) = estimates(sh)
      val jB = Dedup.prefixJaccardPairs(sh, 0.5).collect().toSet
      val nB = Dedup.jaccardPairs(sh, dfCap = 10, threshold = 0.5,
        directPairBudget = 0L).collect().toSet
      // the fourth verified operator, so every one crosses every leg
      val cB = Dedup.prefixContainmentPairs(sh, 0.5).collect().toSet
      withFence((est32 + est64) / 2) {
        assert(Dedup.prefixJaccardPairs(sh, 0.5).collect().toSet == jB)
        assert(Dedup.jaccardPairs(sh, dfCap = 10, threshold = 0.5,
          directPairBudget = 0L).collect().toSet == nB)
        assert(Dedup.prefixContainmentPairs(sh, 0.5).collect().toSet == cB)
      }
      assert(jB.nonEmpty && nB.nonEmpty && cB.nonEmpty)
    }
  }

  test("auto dispatch boundary: fence = est32 broadcasts two-phase, fence = est32 - 1 hands off to bucketed, outputs identical") {
    CacheScope.scoped {
      // widened shingles: the postings-dominated regime the handoff
      // serves (row term is < 2% of est32 here, as at the campaign SF)
      val sh = Dedup.shingles(widened(4))
      val (est32, est64) = estimates(sh)
      assert(est32 < est64)
      def run(): Set[Row] =
        Dedup.containmentPairsCapped(sh, threshold = 0.5).collect().toSet
      def planOf(): Seq[SparkPlan] = {
        val df = Dedup.containmentPairsCapped(sh, threshold = 0.5)
        df.count()
        allPlanNodes(df.queryExecution.executedPlan)
      }
      val baseline = run() // default fence 1.5e9 >> est64 at sf0.001
      assert(baseline.nonEmpty)
      // exactly AT the fence: est32 <= fence still holds — the auto
      // comparison keeps the two-phase broadcast (no bucketed scan)
      withFence(est32) {
        assert(run() == baseline, "two-phase leg diverged at fence = est32")
        assert(!planOf().exists(bucketedScan),
          "fence = est32 must stay on the broadcast side of the handoff")
      }
      // one byte below: est32 > fence — the AUTO comparison (not a
      // 0-pin) selects the bucketed two-phase path
      withFence(est32 - 1) {
        assert(run() == baseline, "bucketed leg diverged at fence = est32 - 1")
        val nodes = planOf()
        assert(nodes.exists(bucketedScan),
          "fence = est32 - 1 must take the bucketed path (auto handoff)")
        assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
          "verify must never sort-merge")
      }
    }
  }

  test("middle-octave plan: no bucketed stage, no sort-merge join, broadcast screen+confirm") {
    CacheScope.scoped {
      val sh = Dedup.shingles(docs)
      val (est32, est64) = estimates(sh)
      // autoBroadcast off: every BHJ in the plan is one the dispatch
      // asked for by hint, not one AQE volunteered
      withConfs(Dedup.VerifyBroadcastBytesKey -> ((est32 + est64) / 2).toString,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val df = Dedup.containmentPairsCapped(sh, threshold = 0.5)
        df.count()
        val nodes = allPlanNodes(df.queryExecution.executedPlan)
        // NOT the bucketed path: zero bucketed file scans anywhere
        assert(!nodes.exists(bucketedScan),
          "middle-octave dispatch took the bucketed path")
        // NOT a sort-merge fallback (est64 > fence rules out the
        // single-phase leg; no bucketed scan rules out the staged leg —
        // by elimination this IS the two-phase broadcast)
        assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
          "verify must never sort-merge")
        // confirm joins are broadcast hash joins (survivor frame is a
        // small fraction of the corpus, re-estimated under the fence)
        assert(nodes.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2,
          "confirm joins must broadcast")
      }
    }
  }

  test("bucketed verify: all hash-set joins are SHJ building on the bucket layout, no exchange/sort on build, no sort on probe") {
    CacheScope.scoped {
      withFence(0) {
        val plan = staticPlan(
          Dedup.containmentPairsCapped(Dedup.shingles(docs), threshold = 0.5))
        // the bucketed dispatch is two-phase — a 32-bit screen (da + db
        // endpoints) then a 64-bit confirm (da + db), all four
        // consuming the one staged table
        assert(assertShjBucketBuilds(plan) == 4, plan.toString.take(2000))
      }
    }
  }

  test("bucketed verify reads are column-pruned: screen scans skip hs, confirm scans skip hs32") {
    CacheScope.scoped {
      withFence(0) {
        val plan = staticPlan(
          Dedup.containmentPairsCapped(Dedup.shingles(docs), threshold = 0.5))
        val stageScans = plan.collect {
          case f: FileSourceScanExec if f.bucketedScan => f.requiredSchema.fieldNames.toSet
        }
        // four scans of the one staged table: 2 screen (hs32 + n, no
        // hs — the 8 B/element column never enters the wide joins) and
        // 2 confirm (hs, no hs32)
        assert(stageScans.size == 4, s"expected 4 bucketed scans, got $stageScans")
        val screens = stageScans.filter(_.contains("hs32"))
        val confirms = stageScans.filter(_.contains("hs"))
        assert(screens.size == 2 && screens.forall(!_.contains("hs")),
          s"screen scans must not read the 64-bit column: $stageScans")
        assert(confirms.size == 2 && confirms.forall(!_.contains("hs32")),
          s"confirm scans must not read the 32-bit column: $stageScans")
      }
    }
  }

  test("widenText: distinct postings scale ~w-fold (the est32 lever)") {
    CacheScope.scoped {
      val base = Dedup.docHashSets(
        Dedup.hashedPostings(Dedup.shingles(docs)))
        .agg(sum(col("n"))).head().getLong(0)
      val wide = Dedup.docHashSets(
        Dedup.hashedPostings(Dedup.shingles(widened(4))))
        .agg(sum(col("n"))).head().getLong(0)
      val ratio = wide.toDouble / base
      // exact ×4 per variant + 2 boundary trigrams per junction:
      // ≈ (4·p + 6)/p at p ≈ 50 distinct shingles/doc
      assert(ratio > 3.9 && ratio < 4.4,
        s"postings ratio $ratio outside the ~4x widening band")
    }
  }

  test("widenText: pairwise containment structure is preserved") {
    CacheScope.scoped {
      def pairs(d: DataFrame): Set[(Long, Long)] =
        Dedup.containmentPairsCapped(Dedup.shingles(d), threshold = 0.5)
          .select(col("da"), col("db")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val base = pairs(docs)
      val wide = pairs(widened(4))
      assert(base.nonEmpty, "fixture produced no containment pairs — vacuous")
      // intersection and set sizes both scale ×w; only the boundary
      // sliver can flip pairs sitting exactly on the threshold
      val jac = (base intersect wide).size.toDouble / (base union wide).size
      assert(jac >= 0.9, s"pair-set Jaccard $jac — widening distorted the corpus")
    }
  }
}
