package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Scalars

/** Corpus-curation operators for training-data pipelines: deterministic
  * train/val/test splits, quantile-band quality filtering, fixed-window
  * sequence chunking, and stratified per-group sampling.
  *
  * Everything here is hash-deterministic (md5-derived, never `rand()`):
  * re-running the pipeline — or running it on a different cluster
  * layout — assigns every document to the same split/sample, which is
  * what makes dataset versioning and incremental re-builds possible at
  * 100 TB. All ops are narrow projections or key-partitioned shuffles;
  * the two that need a position in a global order (the quantile band,
  * sequence packing) take it from `graft.operators.Prefix`, never from a
  * global sort.
  */
object Curation {

  /** Deterministic hash bucket in [0, 100): first 60 md5 bits of the
    * key's string form, mod 100. Stable across runs, clusters, and
    * engines (the DuckDB oracle reproduces it bit-exactly). */
  def hashBucket(key: Column): Column =
    Scalars.md5Long60(key.cast("string")) % 100

  /** Per-source document cap (web-curation "domain cap"): keep at most
    * `cap` documents per source, preferring longer documents with
    * doc_id as the total-order tiebreak. One shuffle on `source`;
    * Spark's WindowGroupLimit pushes the rank cutoff below the shuffle
    * (map-side partial limit), so a hot domain with 10^8 pages sends at
    * most ~cap rows per map partition — the skew this op exists to
    * tame never reaches the reducers. */
  def capPerSource(docs: DataFrame, cap: Int): DataFrame = {
    require(cap > 0, "capPerSource needs cap > 0")
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
      .filter(col("rn") <= cap)
  }

  /** Token-budget mixture selection: within each source, keep the
    * highest-quality documents until the source's TOKEN budget is
    * exhausted — training mixes are specified in tokens, not document
    * counts, so the cutoff must run on a token cumsum. Deterministic
    * order: quality desc, doc_id asc; a document is kept iff its
    * inclusive cumulative token count fits the budget. One window per
    * source partition — key-partitioned, no global sort, and at 100 TB
    * the per-source cumsum is exactly the shape the shuffle already
    * pays for. */
  def tokenBudgetMix(docs: DataFrame, quality: Column,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "tokenBudgetMix needs a positive budget")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens).cast("long").as("n_tokens"),
        quality.as("q"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), round(col("q"), 6).as("q_r"))
  }

  /** Weighted reservoir sample (Efraimidis–Spirakis A-ES),
    * derandomized: per source keep the `k` documents with the largest
    * ln(u)/w, where u is a deterministic hash-uniform in (0, 1] from
    * doc_id and w the document's token count — selection probability
    * proportional to weight, without replacement, and (unlike a true
    * reservoir) reproducible across runs and engines, which is what a
    * training pipeline actually wants from its sampler. ln(u)/w is the
    * monotone log form of the A-ES key u^(1/w), so the top-k sets are
    * identical. Shape at 100 TB: the A-ES key is the property that
    * makes weighted sampling MERGEABLE — each partition keeps its
    * local top-k, the union's top-k is exact; here one shuffle on
    * source with WindowGroupLimit pushing the cutoff below it. */
  def weightedSample(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, "weightedSample needs k > 0")
    val u = (Scalars.md5Long60(col("doc_id").cast("string")) + 1)
      .cast("double") / lit(1152921504606846976.0) // 2^60
    val w = Window.partitionBy(col("source"))
      .orderBy(col("key").desc, col("doc_id"))
    docs.select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens).cast("long").as("n_tokens"))
      .withColumn("key", log(u) / col("n_tokens"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("rank"),
        round(col("key"), 6).as("key_r"))
  }

  /** Boilerplate scoring (CCNet/RefinedWeb-style): the fraction of a
    * document's distinct word 3-shingles that are corpus-frequent
    * (doc-frequency ≥ `dfCap`). High fractions mark template/boilerplate
    * text; `keep` = fraction < `keepBelow`.
    *
    * Shape at 100 TB: one groupBy on the shingle for doc-frequency, one
    * equi-join of shingles against the FILTERED frequent set (bounded by
    * |total shingles|/dfCap, so it shrinks as dfCap grows — AQE converts
    * the join to broadcast when it fits), one groupBy back on doc_id.
    * Nothing is quadratic; no all-pairs stage.
    */
  def boilerplate(docs: DataFrame, dfCap: Int, keepBelow: Double): DataFrame = {
    // both aggregate legs share the shingle lineage — persist it (see
    // the self-join determinism note in the verify recipe)
    val grams = graft.CacheScope.persist(Dedup.shingles(docs))
    val frequent = grams.groupBy(col("s"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= dfCap)
      .select(col("s"))
    val totals = grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val hits = grams.join(frequent, Seq("s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("hits"), lit(0L)).as("n_boiler"),
        round(coalesce(col("hits"), lit(0L)) / col("n_grams"), 6)
          .as("boiler_frac"),
        (coalesce(col("hits"), lit(0L)) / col("n_grams") < keepBelow)
          .as("keep"))
  }

  /** Train/val/test assignment by cumulative hash-bucket ranges:
    * `splits` = (name, percent) with percents summing to ≤100. A
    * document's split never changes when other documents are added or
    * removed — the property random sampling lacks. Pure narrow
    * projection: no shuffle at any scale. */
  def hashSplit(df: DataFrame, key: Column,
      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.map(_._2).sum <= 100, "split percents must sum to <= 100")
    val cum = splits.scanLeft(0)(_ + _._2).tail
    val assigned = splits.zip(0 +: cum.init).zip(cum).map {
      case (((name, _), lo), hi) =>
        when(col("bucket") >= lo && col("bucket") < hi, lit(name))
    }.reduce(coalesce(_, _))
    df.withColumn("bucket", hashBucket(key)).withColumn("split", assigned)
  }

  /** Keep rows whose `score` sits inside the exact [lo, hi] quantile
    * band. `q_rank` is `percent_rank` over (score, tiebreak) — with a
    * unique tiebreak the rank is the row's position, so it is
    * [[graft.operators.Prefix]]'s `start / (total - 1)` (0 when total ≤
    * 1), the identical (rank-1)/(n-1) double both engines compute, with
    * the window's NULLS FIRST order. No global sort. */
  def quantileBand(df: DataFrame, score: Column, tiebreak: Column,
      lo: Double, hi: Double): DataFrame = {
    val (ranked, n) = graft.operators.Prefix(df, Seq(score, tiebreak), lit(1L))
    val qRank =
      if (n > 1) col("start").cast("double") / lit((n - 1).toDouble) else lit(0.0)
    ranked.withColumn("q_rank", qRank).drop("start")
      .filter(col("q_rank") >= lo && col("q_rank") <= hi)
  }

  /** Fixed-size character windows with stride — sequence prep for
    * training (chunk 0 starts at 0, chunk i at i·stride; last chunk may
    * be short). One explode, no shuffle; output scales by ~len/stride. */
  def chunkText(docs: DataFrame, chunkChars: Int, stride: Int): DataFrame = {
    require(chunkChars > 0 && stride > 0, "chunk and stride must be positive")
    docs
      .select(col("doc_id"), col("text"),
        explode(when(col("n_chars") > 0,
          sequence(lit(0L), col("n_chars") - 1, lit(stride.toLong)))
          .otherwise(array().cast("array<long>"))).as("chunk_start"))
      .select(col("doc_id"),
        expr(s"chunk_start DIV $stride").as("chunk_idx"),
        col("chunk_start"),
        expr(s"substring(text, chunk_start + 1, $chunkChars)").as("chunk_text"))
      .withColumn("chunk_chars", length(col("chunk_text")).cast("long"))
  }

  /** Deterministic mixture rebalancing: downsample each stratum to its
    * target fraction by hash threshold (keep iff hash-bucket/10000 <
    * fraction) — the "data mixture" control a training pipeline applies
    * per source/domain. Same stability property as [[hashSplit]]: a
    * document's fate depends only on its own key, so re-runs and corpus
    * growth never resample survivors. Narrow projection, no shuffle;
    * strata absent from `fractions` are kept whole. */
  def rebalance(df: DataFrame, stratum: Column, key: Column,
      fractions: Map[String, Double]): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      "fractions must be in [0, 1]")
    val fine = Scalars.md5Long60(key.cast("string")) % 10000
    val threshold = fractions.foldLeft(lit(10000L)) {
      case (acc, (name, f)) =>
        when(stratum === name, lit((f * 10000).toLong)).otherwise(acc)
    }
    df.filter(fine < threshold)
  }

  /** Stratified deterministic sample: up to `perGroup` documents per
    * stratum, chosen by md5-hash order (stable, engine-reproducible —
    * not `rand()`). One shuffle on the stratum key; per-group state is
    * the bounded top-k heap Spark plans for rank-limit windows. */
  def stratifiedSample(df: DataFrame, stratum: Column, key: Column,
      perGroup: Int): DataFrame = {
    val ordered = df.withColumn("__h", Scalars.md5Long60(key.cast("string")))
    graft.operators.TopK.topKPerKey(ordered,
        Seq(stratum), Seq(col("__h").asc, key.asc), perGroup)
      .drop("__h")
  }

  /** Intra-document repetition scrub: collapse runs of consecutive
    * identical tokens ("the the the" → "the") and report how much was
    * removed. Machine-generated and boilerplate-heavy text shows up as a
    * high removed-fraction, a standard pretraining quality signal; the
    * collapse itself cleans the surviving text.
    *
    * Pure per-row array expressions (split → indexed `filter` lambda →
    * rejoin) — zero shuffles, trivially linear at 100 TB. Spark's
    * higher-order functions evaluate as CodegenFallback, so the stage is
    * a narrow interpreted Project rather than codegen — fine here, the
    * work is O(tokens) either way (plan-asserted in PlanSpec). The
    * `when` guard keeps the 1-based `element_at` lookback off the first
    * token (ANSI mode errors on index 0, and CaseWhen branches evaluate
    * lazily).
    */
  def collapseTokenRuns(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = split(text, " ")
    // filter's index is 0-based; element_at is 1-based, so element_at(toks, i)
    // IS the previous token
    val kept = filter(toks, (x, i) =>
      when(i === 0, lit(true)).otherwise(x =!= element_at(toks, i)))
    docs.select(
      id.as("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      (size(toks) - size(kept)).cast("long").as("n_removed"),
      round((size(toks) - size(kept)).cast("double") /
        size(toks).cast("double"), 6).as("removed_ratio"),
      md5(concat_ws(" ", kept)).as("clean_md5"))
  }

  // ------------------------------------------------------- sequence packing

  /** Token count + deterministic shuffle key per document. Hash order
    * stands in for the "global shuffle" a training pipeline wants before
    * packing, without rand(). */
  private def packInput(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(TextAnalysis.tokens).cast("long").as("n_tokens"),
      Scalars.md5Long60(col("doc_id").cast("string")).as("h"))

  /** Concat-and-split sequence packing (the GPT-style training prep):
    * documents are concatenated in deterministic hash order and the
    * token stream is cut into fixed `seqLen`-token sequences. Emits
    * each document's global token `start_offset` — [[graft.operators.Prefix]]'s
    * `start` with measure `n_tokens`, no global sort — and the first/last
    * sequence index it lands in. */
  def packSequences(docs: DataFrame, seqLen: Int): DataFrame = {
    require(seqLen > 0, "sequence length must be positive")
    val (cum, _) = graft.operators.Prefix(packInput(docs),
      Seq(col("h"), col("doc_id")), col("n_tokens"))
    // a zero-token doc gets a zero-width span at its offset (greatest
    // keeps the formula total; the fixtures have no empty docs)
    cum.select(col("doc_id"), col("n_tokens"), col("start").as("start_offset"))
      .withColumn("__last_tok",
        col("start_offset") + greatest(col("n_tokens"), lit(1L)) - 1)
      .withColumn("seq_first", expr(s"start_offset DIV $seqLen"))
      .withColumn("seq_last", expr(s"__last_tok DIV $seqLen"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .drop("__last_tok")
  }

  /** Packing manifest: one row per (sequence, document) occupancy with
    * the token count the doc contributes to that sequence — the shard
    * manifest a training loader actually consumes. Derived by exploding
    * each doc's [seq_first, seq_last] span; fan-out is bounded by
    * n_tokens/seqLen + 1 per doc, so output size ≈ corpus tokens /
    * seqLen, independent of document skew. */
  def packingManifest(packed: DataFrame, seqLen: Int): DataFrame = {
    val seqStart = col("seq_id") * seqLen
    val docEnd = col("start_offset") + col("n_tokens")
    packed
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
      .withColumn("tokens_in_seq",
        least(docEnd, seqStart + seqLen) - greatest(col("start_offset"), seqStart))
      .select(col("seq_id"), col("doc_id"), col("tokens_in_seq"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how target-domain-like its hashed bag-of-words is.
    * Per-bucket log-likelihood ratio llr_b = ln p_target(b) −
    * ln p_raw(b) under add-1-smoothed unigram models over `buckets`
    * md5 hash buckets; a document's log-weight is Σ_b c_b · llr_b over
    * its own bucket counts. Selection on the weights composes with
    * [[quantileBand]] / [[hashSplit]] downstream — this op only scores,
    * so it needs no global sort.
    *
    * Dataflow at 100 TB: tokens aggregate once to (doc_id, bucket)
    * counts (one map-side-combined shuffle on doc_id — the same key the
    * downstream per-doc join uses); the bucket model is `buckets` rows,
    * built by a second tiny aggregation and BROADCAST back — the corpus
    * never shuffles on bucket. Per-term rounding to 6 dp with a
    * DECIMAL(18,6) sum makes the per-doc reduction order-exact (the
    * corpus-drift/lmScore rule), so weights are reproducible across
    * cluster layouts. */
  def dsirWeights(docs: DataFrame, isTarget: Column,
      buckets: Int = 512): DataFrame = {
    val docBuckets = graft.CacheScope.persist(
      docs.select(col("doc_id"), isTarget.as("is_target"),
          explode(TextAnalysis.tokens).as("tok"))
        .withColumn("b", Scalars.md5Long60(col("tok")) % buckets)
        .groupBy(col("doc_id"), col("is_target"), col("b"))
        .agg(count(lit(1)).as("c")))
    val model = docBuckets.groupBy(col("b")).agg(
      sum(when(col("is_target"), col("c")).otherwise(0L)).as("ct"),
      sum(col("c")).as("cr"))
    val totals = model.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val llr = model.crossJoin(broadcast(totals)).select(col("b"),
      round(log((col("ct") + 1).cast("double") / (col("tt") + buckets)) -
            log((col("cr") + 1).cast("double") / (col("tr") + buckets)),
        6).as("llr"))
    docBuckets.join(broadcast(llr), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_toks"),
        sum(round(col("c") * col("llr"), 6).cast("decimal(18,6)"))
          .cast("double").as("log_weight"))
  }

  /** Temperature-scaled mixture weights (the multilingual/pretraining
    * sampling rule, e.g. Conneau & Lample 2019): source i with raw
    * token share p_i is sampled with probability p_i^α / Σ_j p_j^α,
    * α < 1 flattening the mixture toward rare sources. Emits per
    * stratum the raw share, the tempered weight, and the effective
    * epoch multiplier weight/p_raw (how many passes over that source
    * one corpus-epoch of sampling implies — the number a training run
    * actually budgets against). Input reduces to one row per stratum
    * immediately (map-side combine), so every later step is
    * constant-sized regardless of corpus scale; per-term 8 dp DECIMAL
    * rounding keeps the normalizer order-exact. */
  def temperatureMix(docs: DataFrame, stratum: Column, tokenCount: Column,
      alpha: Double): DataFrame = {
    val counts = graft.CacheScope.persist(
      docs.groupBy(stratum.as("stratum"))
        .agg(sum(tokenCount).cast("long").as("n_tokens")))
    val tot = counts.agg(sum(col("n_tokens")).as("total_tokens"))
    val shares = graft.CacheScope.persist(counts.crossJoin(broadcast(tot))
      .withColumn("p_raw",
        col("n_tokens").cast("double") / col("total_tokens"))
      .withColumn("p_alpha",
        round(pow(col("p_raw"), alpha), 8).cast("decimal(20,8)")))
    val norm = shares.agg(sum(col("p_alpha")).as("norm"))
    // both operands to double BEFORE dividing: decimal/decimal division
    // scale rules differ across engines, double division does not
    val w = when(col("norm").cast("double") > 0,
      col("p_alpha").cast("double") / col("norm").cast("double"))
      .otherwise(lit(0.0))
    shares.crossJoin(broadcast(norm)).select(
      col("stratum"), col("n_tokens"),
      round(col("p_raw"), 6).as("p_raw"),
      round(w, 6).as("weight"),
      // a zero-token stratum has p_raw = 0: epochs = w/p_raw would be
      // NULL in Spark but inf/NaN in the DuckDB twin — pin both to 0
      round(when(col("p_raw") > 0, w / col("p_raw")).otherwise(lit(0.0)),
        6).as("epochs"))
  }
}
