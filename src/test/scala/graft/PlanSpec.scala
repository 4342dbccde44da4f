package graft

/** Plan-shape regression tests: the scale properties we claim must be
  * visible in the executed plan, not just asserted in prose.
  */
class PlanSpec extends SparkSuite {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.count()
    df.queryExecution.executedPlan.toString
  }

  test("scan filters reach the parquet reader (pushdown)") {
    val p = planOf("q_s1_scan_filter")
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(800))
  }

  test("decode star broadcasts every dim; fact side never shuffles") {
    val p = planOf("q_j1_star_decode")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // only dim-side distinct aggregations may exchange; the fact feeds
    // broadcast joins directly from its scan
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"))
  }

  test("verbatim OR-join is nested-loop; rewrites eliminate it") {
    assert(planOf("q_j3_disjunctive_join").contains("BroadcastNestedLoopJoin"))
    assert(!planOf("q_j3_union_rewrite").contains("NestedLoop"))
    assert(!planOf("q_j3_exact_expansion").contains("NestedLoop"))
  }

  test("OR-join auto dispatch: broadcastable dim keeps BNLJ, large dim plans hash joins") {
    // supplier at sf0.001 is KBs — well inside the default 10 MB threshold
    assert(planOf("q_j3_auto_dispatch").contains("BroadcastNestedLoopJoin"))
    // disable broadcasting: the same call must route to the OR-expansion
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      assert(!planOf("q_j3_auto_dispatch").contains("NestedLoop"))
    } finally spark.conf.set(key, prev)
  }

  test("unkeyed interval join plans a hash join, not a nested loop") {
    val p = planOf("q_range_join_unkeyed")
    assert(!p.contains("NestedLoop"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("repair ladder joins are all broadcast") {
    val p = planOf("q_repair_ladder")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("top-1 windows use WindowGroupLimit partial pushdown") {
    assert(planOf("q_w2_top1_per_key").contains("WindowGroupLimit"))
  }

  test("prospect flagship joins every dim via broadcast (no sort-merge joins)") {
    // the dim-decode invariant holds on the PROSPECT subtree; the
    // composed entry also embeds the curation pipeline, whose
    // corpus-sized semi/anti joins legitimately sort-merge — asserting
    // no-SMJ on the combined plan would conflate the two (verdict r13).
    // The dim joins run inside the surrogate key's cut (`Prefix`), so
    // the plans are those of every execution the build runs
    val plans = SqlEvents.plansDuring(spark.sparkContext) {
      Flagship.prospectPipeline(spark, sf).count()
    }
    // a regression that shuffles the fact for a dim join surfaces as SMJ
    assert(!plans.exists(_.contains("SortMergeJoin")))
    assert(plans.exists(_.contains("BroadcastHashJoin")))
  }

  test("curation flagship subtree: no cartesian; corpus joins keyed on doc_id") {
    // the curation pipeline's own scale invariant: every join in the
    // composed plan is equi-keyed (doc_id / vec_id / seam keys) — a
    // CartesianProduct or non-broadcast BNLJ anywhere is an all-pairs
    // regression. SMJ is ALLOWED here: corpus-vs-corpus semi/anti
    // joins at 100 TB are exactly what sort-merge is for.
    val df = Flagship.curationPipeline(spark, "/root/testdata/sf0.001")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // the only BNLJs allowed are the sanctioned scalar-attach
    // crossJoin(broadcast(one-row-agg)) sites — a BNLJ carrying a join
    // CONDITION would be a theta-join (all-pairs) regression
    for (l <- plan.linesIterator if l.contains("BroadcastNestedLoopJoin"))
      assert(l.contains("Cross"), s"conditioned BNLJ in curation plan:\n$l")
    // corpus semi/anti joins stay keyed on doc_id
    for (l <- plan.linesIterator
         if l.contains("LeftSemi") || l.contains("LeftAnti"))
      assert(l.contains("doc_id"), s"unkeyed semi/anti join:\n$l")
  }

  test("curation projections are shuffle-free narrow plans") {
    // split / chunk / gopher / scrub are pure per-row work: any Exchange
    // in their plan is a scale regression (at 100 TB it would shuffle
    // the whole corpus for no semantic reason)
    for (q <- Seq("q_split_hash", "q_chunk_text", "q_quality_gopher",
        "q_text_scrub")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n" + p.take(1200))
    }
  }

  test("stratified sample shuffles once, on the stratum key only") {
    val p = planOf("q_sample_stratified")
    assert(p.contains("Exchange hashpartitioning(source"), p.take(1200))
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      p.take(1200)) // one exchange (+AQE read) — never a second shuffle key
  }

  test("connected-components rounds plan hash joins, never nested loops") {
    val p = planOf("q_dedup_components")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      p.take(1200))
  }

  test("Hive-style partition layout prunes at the reader") {
    // materialize the partitioned sink, then read one partition back
    SparkEntry.queries("q_s2_partitioned_sink")(spark, sf).count()
    val df = spark.read
      .parquet(graft.sources.Stage.work("q_s2_partitioned_sink", sf))
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      plan.take(800))
  }

  test("MERGE upsert is join-free: one key shuffle + group-limit window") {
    val p = planOf("q_merge_upsert")
    assert(!p.contains("Join"), p.take(1200)) // union+top-1, never a join
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(p.contains("Exchange hashpartitioning(o_orderkey"), p.take(1200))
  }

  test("z-order key and token-run collapse are exchange-free narrow plans") {
    // the Morton key is bitwise builtins only, so it also stays inside
    // whole-stage codegen ("*(n)" is toString's codegen stage marker);
    // the token collapse uses higher-order array lambdas, which Spark
    // evaluates as CodegenFallback — still a single narrow Project
    val z = planOf("q_zorder_key")
    assert(!z.contains("Exchange"), z.take(1200))
    assert(z.contains("*(1) Project"), z.take(1200))
    val c = planOf("q_text_run_collapse")
    assert(!c.contains("Exchange"), c.take(1200))
    assert(c.contains("Project"), c.take(1200))
  }

  test("SCD2 build is join-free and only ever hashes on the entity key") {
    val p = planOf("q_scd2_history")
    assert(!p.contains("Join"), p.take(1200))
    // every exchange is key-prefixed: windows on (o_custkey), the run
    // collapse on (o_custkey, version, ...) — nothing reshuffles on a
    // foreign key
    assert("hashpartitioning\\((?!o_custkey)".r.findFirstIn(p).isEmpty,
      p.take(1200))
  }

  test("time-range window shuffles once, on the series key") {
    val p = planOf("q_window_time_range")
    assert(p.contains("Exchange hashpartitioning(user_id"), p.take(1200))
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      p.take(1200))
  }

  test("full outer join sort-merges (broadcast is impossible for full outer)") {
    val p = planOf("q_j9_full_outer")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      p.take(1200))
  }

  test("semi/anti flagging plans LeftSemi + LeftAnti, never duplicating the left") {
    val p = planOf("q_j10_semi_anti")
    assert(p.contains("LeftSemi"), p.take(1200))
    assert(p.contains("LeftAnti"), p.take(1200))
  }

  test("correlated scalar subquery decorrelates: no nested loop, no per-row re-execution") {
    val p = planOf("q_sub_scalar_corr")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // decorrelation surfaces as an aggregate joined back, not a subquery
    assert(p.contains("Aggregate") || p.contains("HashAggregate"),
      p.take(1200))
  }

  test("LATERAL top-k rewrites the correlated LIMIT to a group-limit window") {
    val p = planOf("q_lateral_topk")
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("z-score and winsorize broadcast their tiny stats dim over an unshuffled fact") {
    for (q <- Seq("q_events_anomaly", "q_events_winsorize")) {
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: ${p.take(1200)}")
      assert(!p.contains("SortMergeJoin"), s"$q: ${p.take(1200)}")
    }
  }

  test("boilerplate scoring is bucketed equi-join work, never all-pairs") {
    val p = planOf("q_text_boilerplate")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("NestedLoop"), p.take(1200))
  }

  test("per-source cap pushes the rank cutoff below the shuffle") {
    assert(planOf("q_source_cap").contains("WindowGroupLimit"))
  }

  test("table profile is one aggregation job (Expand, no join)") {
    val p = planOf("q_profile_table")
    assert(p.contains("Expand"), p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("decay score shuffles the fact once, on user_id") {
    val p = planOf("q_events_decay_score")
    assert(p.contains("Exchange hashpartitioning(user_id"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
  }

  test("embedding normalize is an exchange-free narrow plan") {
    val p = planOf("q_emb_normalize")
    assert(!p.contains("Exchange"), p.take(1200))
  }

  test("prefix-filtered similarity join is all equi-joins, never all-pairs") {
    val p = planOf("q_dedup_prefix_jaccard")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("NestedLoop"), p.take(1200))
  }

  test("null-safe equality still hashes: broadcast join, no nested loop") {
    val p = planOf("q_j11_null_safe_join")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("NestedLoop"), p.take(1200))
  }

  test("exact containment join is all equi-joins, never all-pairs") {
    val p = planOf("q_dedup_containment_exact")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("NestedLoop"), p.take(1200))
  }

  test("bloom decontamination probes a broadcast sketch: no join with the benchmark relation") {
    val p = planOf("q_decontaminate_bloom")
    // the bloom PROBE aggregate must not join the benchmark n-gram
    // relation; the only joins are the exact twin's broadcast probe
    // and the final doc_id zip of the two profiles
    assert(p.contains("might_contain"), p.take(1500))
    assert(p.contains("Subquery"), p.take(1500))
    // exactly those two joins anywhere in the plan: a regression that
    // reintroduces a benchmark-relation join inside the bloom probe
    // shows up as a third join operator
    val joins = ("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|" +
      "BroadcastNestedLoopJoin|CartesianProduct)").r
      .findAllIn(p).length
    assert(joins == 2,
      s"expected exactly 2 joins (exact probe + doc_id zip), got $joins:\n" +
        p.take(2000))
  }

  test("bounded simhash top-m runs WindowGroupLimit below the shuffle") {
    val p = planOf("q_dedup_simhash_topm")
    // the rank-≤-m filter must push a partial per-key top-m under the
    // window shuffle, so no partition materializes an unbounded
    // neighbor list
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("repeated-span profile is bucketed gram work, never all-pairs") {
    val p = planOf("q_dedup_substring")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("NestedLoop"), p.take(1200))
  }

  test("token-budget mix shuffles once, on the source key") {
    val p = planOf("q_mix_token_budget")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 source-key exchange, plan:\n${p.take(1500)}")
    assert(p.contains("hashpartitioning(source"), p.take(1500))
  }

  test("trained IVF-PQ rerank keeps every centroid/LUT frame broadcast") {
    val p = planOf("q_pq_recall")
    // no unbroadcast cartesian anywhere; the only BNLJs are the
    // sanctioned broadcast crossJoins (5-row query frame, 1-row counts)
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  // ------------------------------------------------------------------
  // Pair-join family shape (perf-load-bearing since r9's rewrite): the
  // candidate stage must be an EQUI join keyed on the shingle, and
  // verification must intersect hashed shingle sets IN-ROW — a revert
  // to the row-join verification (|cands| × doc-length rows, the shape
  // that spilled 79 GB at sf10x) drops the in-row intersection marker
  // (`intersect_count_i64`, the codegen'd merge count over the sorted
  // hash arrays — round 15) from the plan and these fail before the
  // bench does.
  // ------------------------------------------------------------------

  private def pairPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.count()
    df.queryExecution.executedPlan.toString
  }

  private def assertPairShape(p: String): Unit = {
    assert(p.contains("intersect_count_i64"),
      "verification must be the in-row hashed-set intersection\n" + p.take(1500))
    // candidate generation is an equi join keyed on the shingle — as
    // the string column `s` (prefix family: selection order is
    // oracle-mirrored on strings) or its 64-bit fingerprint `h`
    // (round 15: the fully-hashed operators never shuffle strings)
    assert("Join [^\\n]*\\[[sh]#".r.findFirstIn(p).isDefined ||
      "HashJoin [^\\n]*\\[[sh]#".r.findFirstIn(p).isDefined ||
      p.contains("hashpartitioning(s#") || p.contains("hashpartitioning(h#"),
      "candidate join must be keyed on the shingle or its fingerprint\n" +
        p.take(1500))
  }

  test("rare-postings jaccard: equi candidate join on s, in-row hashed-set verify") {
    graft.CacheScope.scoped {
      val sh = graft.text.Dedup.shingles(
        graft.sources.Tables.load(spark, sf, "documents"))
      // budget 0 forces the at-scale path regardless of corpus size
      val p = pairPlan(graft.text.Dedup.jaccardPairs(sh, 10, 0.5,
        directPairBudget = 0L))
      assertPairShape(p)
      assert(!p.contains("CartesianProduct"), p.take(1200))
    }
  }

  test("prefix jaccard + exact containment keep the r9 pair shape") {
    graft.CacheScope.scoped {
      val sh = graft.text.Dedup.shingles(
        graft.sources.Tables.load(spark, sf, "documents"))
      assertPairShape(pairPlan(graft.text.Dedup.prefixJaccardPairs(sh, 0.5)))
      assertPairShape(pairPlan(graft.text.Dedup.prefixContainmentPairs(sh, 0.9)))
    }
  }

  test("capped prefix jaccard: cap scalar broadcast, candidates equi-keyed") {
    graft.CacheScope.scoped {
      val sh = graft.text.Dedup.shingles(
        graft.sources.Tables.load(spark, sf, "documents"))
      val p = pairPlan(graft.text.Dedup.prefixJaccardPairs(sh, 0.5,
        pairBudgetPerDoc = Some(16L)))
      assertPairShape(p)
      // the one-row cap frame rides a broadcast nested-loop crossJoin,
      // never a CartesianProduct
      assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
      assert(!p.contains("CartesianProduct"), p.take(1200))
    }
  }

  test("incremental LSH dedup: equi band join, no cartesian, blame aggregate survives count") {
    val p = planOf("q_dedup_incremental_lsh")
    // the batch-vs-index join must be keyed on the band columns — a
    // keyless rewrite (all-pairs against a 100 TB corpus index) would
    // surface as CartesianProduct / BNLJ
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("band_val"), p.take(1500))
    // the union+min-aggregate form: the blame computation must be IN
    // the executed (count-consumed) plan — the earlier left-join form
    // was join-eliminated under count() and timed a bare scan
    assert(p.contains("HashAggregate"), p.take(1500))
    assert("Join [^\\n]*band".r.findFirstIn(p).isDefined ||
      p.contains("hashpartitioning(band"), p.take(1500))
  }

  test("dsir: the bucket model is broadcast; the corpus never shuffles on the bucket key") {
    val p = planOf("q_curation_dsir")
    // the llr frame joins back via broadcast hash — a SortMergeJoin
    // would mean the whole corpus re-shuffles on bucket
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("capped containment broadcasts its cap/ndocs scalars; candidates stay equi-keyed") {
    graft.CacheScope.scoped {
      val sh = graft.text.Dedup.shingles(
        graft.sources.Tables.load(spark, sf, "documents"))
      val p = pairPlan(graft.text.Dedup.containmentPairsCapped(sh, 0.9))
      assertPairShape(p)
      // the one-row cap frame rides a broadcast nested-loop crossJoin —
      // the idiomatic scalar join — never a CartesianProduct
      assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
      assert(!p.contains("CartesianProduct"), p.take(1200))
    }
  }

  test("bm25: query side broadcasts, ranking is a group-limit, no cartesian") {
    graft.CacheScope.scoped {
      val p = planOf("q_text_bm25")
      // the (qid, tok) term sets and the query-vocab df frame both ride
      // broadcast hash joins against the posting table; the corpus side
      // never shuffles on the query key
      assert(p.contains("BroadcastHashJoin"), p.take(1500))
      // top-k per query prunes before the exchange (WindowGroupLimit),
      // never a full corpus sort
      assert(p.contains("WindowGroupLimit"), p.take(1500))
      assert(!p.contains("CartesianProduct"), p.take(1200))
    }
  }

  test("span removal: gram-keyed equi joins, in-row positional cut, no cartesian") {
    graft.CacheScope.scoped {
      val p = planOf("q_dedup_span_remove")
      // the cut is applied IN-ROW via filter+array_contains over the
      // collected positions — a revert to a per-token row join would
      // drop array_contains and explode the verification row count
      assert(p.contains("array_contains"), p.take(1500))
      assert(p.contains("hashpartitioning(g#") ||
        "Join [^\\n]*\\[g#".r.findFirstIn(p).isDefined,
        "keeper join must be keyed on the gram\n" + p.take(1500))
      assert(!p.contains("CartesianProduct"), p.take(1200))
    }
  }
}
