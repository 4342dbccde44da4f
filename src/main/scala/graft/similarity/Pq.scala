package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.CacheScope

/** Product quantization (PQ) + asymmetric-distance (ADC) scan — the
  * compression layer of IVF-PQ-style ANN indexes (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011): split each
  * vector into `nSub` subspaces, snap every sub-vector to its nearest
  * codebook centroid, and store only the 4-bit code per subspace — a
  * 64-dim float vector becomes one 32-bit integer. Queries never
  * decompress: a per-query lookup table of query-to-centroid distances
  * turns the corpus scan into `nSub` table lookups + adds per candidate.
  * [[ivfAdcTopK]] is the full composition: a coarse inverted index
  * restricts the scan to probed lists, ADC ranks the survivors.
  *
  * Codebook: with `trainIters` = 0 the sub-vectors of the first
  * `nCentroids` corpus vectors (a deterministic seeding, the
  * oracle-simplest fixture); with `trainIters` > 0 a real k-means
  * codebook per subspace via [[Kmeans.fitGrouped]] — still fully
  * deterministic (fixed seeds/iterations/tiebreaks), so the trained
  * path is oracle-checkable too, and `q_pq_recall` bounds its ADC
  * quality against the exact-L2 baseline.
  *
  * Scale posture: the codebook, coarse centroids, and every per-query
  * LUT are KBs — broadcast; encode is corpus × broadcast(codebook) with
  * a top-1-per-(vector, subspace) window (one shuffle on vec_id); the
  * ADC scan is codes ⨝ broadcast(LUT) then a decimal-carried sum per
  * (query, candidate) — linear in the corpus (or in the probed lists
  * for IVF-PQ), no all-pairs stage anywhere. Distances accumulate
  * through DECIMAL(24,12) so partial-agg order cannot perturb the
  * ranking (the oracle reproduces bit-equal sums).
  */
object Pq {

  /** Sub-vector slices of every corpus vector: (vec_id, s, v) with `s`
    * the 0-based subspace and `v` the `subDim`-wide double slice. */
  private def subVectors(emb: DataFrame, nSub: Int, subDim: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(nSub - 1))).as("s"),
        col("e"))
      .select(col("vec_id"), col("s"),
        slice(col("e"), col("s") * subDim + 1, lit(subDim)).as("v"))

  /** Squared L2 between vector columns `a` and `b`, written as
    * ip(a,a) - 2·ip(a,b) + ip(b,b) with the codegen dot so the oracle
    * can reproduce the exact expression tree (same associativity). */
  private def l2sq(a: String, b: String): Column =
    expr(s"dot_f64($a, $a) - 2 * dot_f64($a, $b) + dot_f64($b, $b)")

  /** The deterministic codebook: (cid, s, cv). */
  private def codebook(sub: DataFrame, nCentroids: Int): DataFrame =
    sub.where(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cid"), col("s"), col("v").as("cv"))

  /** K-means-TRAINED per-subspace codebook: [[Kmeans.fitGrouped]] over
    * the sub-vector slices keyed by subspace (every subspace trains in
    * the same two shuffles per round), replacing the first-N seeding —
    * this is what ADC quality on real data depends on. Deterministic
    * (seeds, iteration count, tiebreaks all fixed), so the oracle can
    * replay the identical centroid trajectory. The last round is
    * already a cut, so the rename reads its checkpoint blocks as they
    * are (a persist here would only copy them). */
  private def trainedCodebook(sub: DataFrame, nCentroids: Int,
      iters: Int): DataFrame =
    Kmeans.fitGrouped(sub.select(col("s").as("g"), col("vec_id"), col("v")),
        nCentroids, iters)
      .select(col("cid"), col("g").as("s"), col("cv"))

  /** First-N seed codebook when `trainIters` = 0 (the oracle-simplest
    * fixture), k-means-trained codebook otherwise. */
  private def codebookOf(sub: DataFrame, nCentroids: Int,
      trainIters: Int): DataFrame =
    if (trainIters > 0) trainedCodebook(sub, nCentroids, trainIters)
    else codebook(sub, nCentroids)

  /** Per-(vector, subspace) nearest-centroid codes: (vec_id, s, code).
    * Arg-min as `min(struct(dist, cid))` rather than a row_number
    * window: map-side partial aggregation reduces the 16×-expanded
    * candidate frame before the exchange instead of shuffling it
    * (same (dist asc, cid asc) order, output-identical). */
  private def codesOf(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), "s")
      .select(col("vec_id"), col("s"),
        l2sq("v", "cv").as("__d"), col("cid"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(col("__d"), col("cid"))).as("__m"))
      .select(col("vec_id"), col("s"), col("__m.cid").as("code"))

  /** Per-query distance LUT: (qid, s, code, d) with d decimal-carried. */
  private def lutOf(sub: DataFrame, cb: DataFrame,
      queryPred: Column): DataFrame =
    sub.where(queryPred)
      .select(col("vec_id").as("qid"), col("s"), col("v").as("qv"))
      .join(broadcast(cb), "s")
      .select(col("qid"), col("s"), col("cid").as("code"),
        l2sq("qv", "cv").cast(DecimalType(24, 12)).as("d"))

  /** Sum the LUT lookups per (query, candidate) and keep the top k. */
  private def rankByAdc(scan: DataFrame, k: Int): DataFrame = {
    val byAdc = Window.partitionBy(col("qid"))
      .orderBy(col("adc").asc, col("cid").asc)
    scan
      .groupBy(col("qid"), col("vec_id").as("cid"))
      .agg(sum(col("d")).cast("double").as("adc"))
      .withColumn("rank", row_number().over(byAdc).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"),
        round(col("adc"), 6).as("adc_r"))
  }

  /** PQ-encode the corpus: one row per vector with the packed code
    * (4 bits per subspace, subspace s at bit 4s). */
  def encode(emb: DataFrame, nCentroids: Int = 16, nSub: Int = 8,
      subDim: Int = 8): DataFrame = {
    require(nCentroids <= 16, "4-bit codes: at most 16 centroids")
    graft.functions.VectorExpressions.register(emb.sparkSession)
    val sub = CacheScope.persist(subVectors(emb, nSub, subDim))
    codesOf(sub, codebook(sub, nCentroids))
      .groupBy(col("vec_id"))
      // cid is BIGINT (from vec_id), so the shifted codes can't overflow
      .agg(expr("sum(shiftleft(code, s * 4))").as("pq_code"))
  }

  /** ADC top-k: approximate squared-L2 neighbors of each query row
    * (`queryPred` over vec_id), ranked per query over the WHOLE corpus.
    * Returns (qid, cid, rank, adc_r), distance rounded to 6 dp. */
  def adcTopK(emb: DataFrame, spark: SparkSession, queryPred: Column, k: Int,
      nCentroids: Int = 16, nSub: Int = 8, subDim: Int = 8,
      trainIters: Int = 0): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val sub = CacheScope.persist(subVectors(emb, nSub, subDim))
    val cb = codebookOf(sub, nCentroids, trainIters)
    rankByAdc(
      codesOf(sub, cb)
        .join(broadcast(lutOf(sub, cb, queryPred)), Seq("s", "code"))
        .where(col("qid") =!= col("vec_id")), k)
  }

  /** IVF-PQ: a coarse inverted index (full-vector nearest of `nCoarse`
    * seed centroids) restricts each query's scan to its `nProbe` nearest
    * lists; ADC ranks only those candidates. At 100 TB this is the
    * standard two-level index: the scan cost drops from the corpus to
    * nProbe/nCoarse of it, and everything broadcast stays KB-sized. */
  def ivfAdcTopK(emb: DataFrame, spark: SparkSession, queryPred: Column,
      k: Int, nCoarse: Int = 16, nProbe: Int = 2, nCentroids: Int = 16,
      nSub: Int = 8, subDim: Int = 8, trainIters: Int = 0): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    val p = CacheScope.persist(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e")))
    val coarse = p.where(col("vec_id") < nCoarse)
      .select(col("vec_id").as("ccid"), col("e").as("ce"))
    val byCoarse = Window.partitionBy(col("vec_id"))
      .orderBy(l2sq("e", "ce").asc, col("ccid").asc)
    val ranked = p.crossJoin(broadcast(coarse))
      .withColumn("__rn", row_number().over(byCoarse))
    val lists = ranked.where(col("__rn") === 1)
      .select(col("vec_id"), col("ccid"))
    val probes = ranked.where(col("__rn") <= nProbe && queryPred)
      .select(col("vec_id").as("qid"), col("ccid"))
    val cand = probes.join(lists, "ccid")
      .where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"))
    val sub = CacheScope.persist(subVectors(emb, nSub, subDim))
    val cb = codebookOf(sub, nCentroids, trainIters)
    rankByAdc(
      cand.join(codesOf(sub, cb), "vec_id")
        .join(broadcast(lutOf(sub, cb, queryPred)), Seq("qid", "s", "code")), k)
  }

  /** IVFADC+R (Jégou et al. §V): IVF-PQ retrieves an ADC-ranked
    * SHORTLIST of `shortlist` candidates per query, then the shortlist
    * — and only the shortlist — is re-ranked by the exact full-vector
    * L2. On data whose neighbor gaps are small relative to the
    * quantization noise (the hard case), raw ADC ordering is weak but
    * the true neighbors still land in a modest shortlist, so the
    * rerank recovers most of the recall at per-query-constant extra
    * cost: `shortlist` exact distances per query, independent of
    * corpus size — the composition every production PQ deployment
    * ships. Returns (qid, cid, rank, l2_r). */
  def ivfPqRerankTopK(emb: DataFrame, spark: SparkSession,
      queryPred: Column, k: Int, shortlist: Int = 100, nCoarse: Int = 16,
      nProbe: Int = 4, nCentroids: Int = 16, nSub: Int = 16,
      subDim: Int = 4, trainIters: Int = 2): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val sl = ivfAdcTopK(emb, spark, queryPred, shortlist, nCoarse, nProbe,
      nCentroids, nSub, subDim, trainIters).select(col("qid"), col("cid"))
    val p = CacheScope.persist(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e")))
    val byL2 = Window.partitionBy(col("qid"))
      .orderBy(l2sq("qe", "ce").asc, col("cid").asc)
    sl.join(p.select(col("vec_id").as("qid"), col("e").as("qe")), "qid")
      .join(p.select(col("vec_id").as("cid"), col("e").as("ce")), "cid")
      .withColumn("rank", row_number().over(byL2).cast("long"))
      .where(col("rank") <= k)
      .select(col("qid"), col("cid"), col("rank"),
        round(l2sq("qe", "ce"), 6).as("l2_r"))
  }
}
