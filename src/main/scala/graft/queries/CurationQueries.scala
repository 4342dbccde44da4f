package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.{Curation, Decontaminate, Dedup, Distill, TextAnalysis}

/** Corpus-curation fixtures over `documents`: dedup clustering
  * (connected components + canonical keepers), deterministic splits,
  * quantile-band filtering, sequence chunking, stratified sampling.
  * The component oracles extend the MinHash/LSH CTE chain from
  * TextQueries with a recursive min-reachable-label CTE, so engine and
  * oracle share one definition of the candidate graph.
  */
object CurationQueries {

  /** DuckDB twin of `Dedup.connectedComponents` over the LSH candidate
    * pairs: undirected edges, then recursive reachability; component =
    * min node reachable. (`WITH RECURSIVE` must head the CTE list.) */
  private val componentsCte =
    TextQueries.lshPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") + raw""",
      e AS (SELECT da AS src, db AS dst FROM pairs
            UNION ALL
            SELECT db, da FROM pairs),
      r(node, x) AS (
        SELECT DISTINCT src, src FROM e
        UNION
        SELECT r.node, e.dst FROM r JOIN e ON r.x = e.src),
      comp AS (SELECT node AS doc_id, min(x) AS component
               FROM r GROUP BY node)"""

  private val components = Q("q_dedup_components",
    (s, dir) => Dedup.connectedComponents(Dedup.lshCandidates(
      Dedup.minhashSignatures(Dedup.shingles(
        Tables.load(s, dir, "documents")))).select(col("da"), col("db"))),
    componentsCte + "\n      SELECT doc_id, component FROM comp")

  /** Same 0.6·distinct_ratio + 0.4·(1−stop_ratio) score the
    * oracle-proven `q_text_quality` uses (shared via TextAnalysis so
    * the flagship composition can't drift from it). */
  private val qualityCol = TextAnalysis.qualityScore

  private val qualitySqlExpr =
    s"0.6 * (CAST(len(list_distinct(t)) AS BIGINT) / CAST(len(t) AS BIGINT)) + " +
      s"0.4 * (1.0 - ${TextQueries.hitsSql(TextAnalysis.enStops)} / CAST(len(t) AS BIGINT))"

  private val canonical = Q("q_dedup_canonical",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val cc = Dedup.connectedComponents(Dedup.lshCandidates(
        Dedup.minhashSignatures(Dedup.shingles(docs)))
        .select(col("da"), col("db")))
      Dedup.canonicalPerCluster(docs, cc, qualityCol)
    },
    componentsCte + raw""",
      ql AS (SELECT doc_id, $qualitySqlExpr AS q FROM toks),
      lab AS (SELECT ql.doc_id,
                coalesce(comp.component, ql.doc_id) AS component, ql.q
              FROM ql LEFT JOIN comp ON ql.doc_id = comp.doc_id),
      win AS (SELECT component, doc_id, q,
                row_number() OVER (PARTITION BY component
                                   ORDER BY q DESC, doc_id ASC) AS rn,
                count(*) OVER (PARTITION BY component) AS n_docs
              FROM lab)
      SELECT component, doc_id AS keep_id, q AS keep_quality, n_docs
      FROM win WHERE rn = 1""")

  private val bucketSql =
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"

  private val split = Q("q_split_hash",
    (s, dir) => Curation.hashSplit(
        Tables.load(s, dir, "documents"), col("doc_id"),
        Seq(("train", 90), ("val", 5), ("test", 5)))
      .select(col("doc_id"), col("bucket"), col("split")),
    raw"""
      WITH b AS (SELECT doc_id, $bucketSql AS bucket FROM documents)
      SELECT doc_id, bucket,
        CASE WHEN bucket < 90 THEN 'train'
             WHEN bucket < 95 THEN 'val'
             ELSE 'test' END AS split
      FROM b""")

  private val band = Q("q_quality_band",
    (s, dir) => Curation.quantileBand(
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), qualityCol.as("quality_score")),
      col("quality_score"), col("doc_id"), lo = 0.05, hi = 0.95),
    raw"""
      WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                    FROM documents),
      ql AS (SELECT doc_id, $qualitySqlExpr AS quality_score FROM toks),
      w AS (SELECT doc_id, quality_score,
              percent_rank() OVER (ORDER BY quality_score, doc_id) AS q_rank
            FROM ql)
      SELECT doc_id, quality_score, q_rank
      FROM w WHERE q_rank >= 0.05 AND q_rank <= 0.95""")

  private val chunks = Q("q_chunk_text",
    (s, dir) => Curation.chunkText(
      Tables.load(s, dir, "documents"), chunkChars = 200, stride = 150),
    raw"""
      SELECT doc_id, i // 150 AS chunk_idx, i AS chunk_start,
        substr(text, CAST(i + 1 AS INT), 200) AS chunk_text,
        CAST(len(substr(text, CAST(i + 1 AS INT), 200)) AS BIGINT) AS chunk_chars
      FROM documents,
        unnest(CASE WHEN n_chars > 0 THEN range(0, n_chars, 150)
                    ELSE [] END) AS u(i)""")

  private val stratified = Q("q_sample_stratified",
    (s, dir) => Curation.stratifiedSample(
        Tables.load(s, dir, "documents"),
        col("source"), col("doc_id"), perGroup = 20)
      .select(col("source"), col("doc_id"), col("lang"), col("n_chars")),
    raw"""
      WITH w AS (SELECT source, doc_id, lang, n_chars,
          row_number() OVER (PARTITION BY source
            ORDER BY $bucketSqlFull, doc_id) AS rn
        FROM documents)
      SELECT source, doc_id, lang, n_chars FROM w WHERE rn <= 20""")

  private def bucketSqlFull =
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"

  private val gopher = Q("q_quality_gopher",
    (s, dir) => Tables.load(s, dir, "documents").select(
      col("doc_id") +: TextAnalysis.gopherMetrics(
        minWords = 10, maxWords = 1000,
        minMeanLen = 2.0, maxMeanLen = 10.0,
        minDistinctRatio = 0.2, maxTopTokenFrac = 0.2): _*),
    raw"""
      WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                    FROM documents),
      m AS (SELECT doc_id,
          CAST(len(t) AS BIGINT) AS word_count,
          CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS mean_word_len,
          CAST(len(list_distinct(t)) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS distinct_ratio,
          CAST(list_max(list_transform(list_distinct(t),
              d -> len(list_filter(t, x -> x = d)))) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS top_token_frac,
          ${TextQueries.hitsSql(TextAnalysis.enStops)} AS stop_hits
        FROM toks)
      SELECT doc_id, word_count, mean_word_len, distinct_ratio,
        top_token_frac, stop_hits,
        (word_count >= 10 AND word_count <= 1000
         AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
         AND distinct_ratio >= 0.2 AND top_token_frac <= 0.2
         AND stop_hits >= 1) AS keep
      FROM m""")

  /** One GD iteration of the distilled-gate oracle: scores from the
    * previous weight CTE (per-term 8 dp DECIMAL sums), 6 dp sigmoid
    * residuals, mean gradient per bucket, 8 dp weight step — the exact
    * trajectory `Distill.distillGate` walks (the kmeans / PageRank
    * unrolled-iteration pattern). */
  private def distillIter(i: Int, prev: String): String = raw"""
      s$i AS (SELECT f.doc_id,
                CAST(sum(CAST(round(f.x * w.w, 8) AS DECIMAL(20,8)))
                  AS DOUBLE) AS s
              FROM feats f JOIN $prev w USING (b) GROUP BY f.doc_id),
      r$i AS (SELECT lab.doc_id,
                round(1.0 / (1.0 + exp(-s)), 6) - y AS r
              FROM lab JOIN s$i USING (doc_id)),
      g$i AS (SELECT b,
                round(CAST(sum(CAST(round(x * r, 8) AS DECIMAL(20,8)))
                  AS DOUBLE) / CAST(ndocs AS DOUBLE), 8) AS g
              FROM feats JOIN r$i USING (doc_id), nd GROUP BY b, ndocs),
      w$i AS MATERIALIZED (
              SELECT w.b, round(w.w - 16.0 * coalesce(g.g, 0.0), 8) AS w
              FROM $prev w LEFT JOIN g$i g USING (b))"""

  /** Gate distillation (the fastText-style quality-classifier pattern:
    * CCNet, the LLaMA data pipeline): 20 batch-GD rounds of logistic
    * regression on 64-bucket hashed unigram PRESENCE + 4 cheap scalar
    * metric features against the Gopher gate as teacher, then one
    * linear score per document. Hyper-parameters were probed, not
    * guessed: tf-weighted bags alone stay at the 0.904 majority base
    * rate at ANY learning rate; presence + metrics at
    * (iters 20, lr 16) measures 0.952 accuracy at sf0.01. The oracle
    * unrolls the identical trajectory — md5 buckets, DECIMAL per-term
    * sums, 6 dp sigmoids, 8 dp weight steps — so a diverged gradient
    * anywhere in 20 rounds hash-mismatches every score. */
  private val distilled = Q("q_quality_distilled",
    (s, dir) => Distill.distillGate(
      Tables.load(s, dir, "documents"),
      TextAnalysis.gopherMetrics(10, 1000, 2.0, 10.0, 0.2, 0.2).last,
      dim = 64, iters = 20, lr = 16.0),
    raw"""
      WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                    FROM documents),
      m AS (SELECT doc_id,
          CAST(len(t) AS BIGINT) AS word_count,
          CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS mean_word_len,
          CAST(len(list_distinct(t)) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS distinct_ratio,
          CAST(list_max(list_transform(list_distinct(t),
              d -> len(list_filter(t, x -> x = d)))) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS top_token_frac,
          ${TextQueries.hitsSql(TextAnalysis.enStops)} AS stop_hits
        FROM toks),
      lab AS MATERIALIZED (SELECT doc_id,
          CAST(CASE WHEN word_count >= 10 AND word_count <= 1000
            AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
            AND distinct_ratio >= 0.2 AND top_token_frac <= 0.2
            AND stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS y
        FROM m),
      tk AS (SELECT doc_id, tok FROM toks, unnest(t) AS u(tok)),
      ug AS (SELECT DISTINCT doc_id,
               CAST(CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
                 % 64 AS INT) AS b
             FROM tk),
      feats AS MATERIALIZED (SELECT doc_id, b, 1.0 AS x FROM ug
                UNION ALL
                SELECT doc_id, -1 AS b, 1.0 AS x FROM documents
                UNION ALL
                SELECT doc_id, -2 AS b,
                  round(ln(1.0 + CAST(len(t) AS DOUBLE)) / 10, 6) AS x
                FROM toks
                UNION ALL
                SELECT doc_id, -3 AS b,
                  round(CAST(len(list_distinct(t)) AS DOUBLE)
                    / CAST(len(t) AS DOUBLE), 6) AS x
                FROM toks
                UNION ALL
                SELECT doc_id, -4 AS b,
                  round(CAST(list_max(list_transform(list_distinct(t),
                      d -> len(list_filter(t, x -> x = d)))) AS DOUBLE)
                    / CAST(len(t) AS DOUBLE), 6) AS x
                FROM toks
                UNION ALL
                SELECT doc_id, -5 AS b,
                  round(CAST(${TextQueries.hitsSql(TextAnalysis.enStops)}
                    AS DOUBLE) / CAST(len(t) AS DOUBLE), 6) AS x
                FROM toks),
      nd AS MATERIALIZED (SELECT count(*) AS ndocs FROM documents),
      w0 AS MATERIALIZED (
        SELECT DISTINCT b, CAST(0.0 AS DOUBLE) AS w FROM feats),""" +
      (1 to 20).map(i => distillIter(i, s"w${i - 1}")).mkString(",") + raw""",
      sf AS (SELECT f.doc_id,
               CAST(sum(CAST(round(f.x * w.w, 8) AS DECIMAL(20,8)))
                 AS DOUBLE) AS s
             FROM feats f JOIN w20 w USING (b) GROUP BY f.doc_id)
      SELECT lab.doc_id, y AS label,
        round(1.0 / (1.0 + exp(-s)), 6) AS score,
        CAST(CASE WHEN round(1.0 / (1.0 + exp(-s)), 6) >= 0.5
          THEN 1 ELSE 0 END AS BIGINT) AS predicted,
        CAST(CASE WHEN (CASE WHEN round(1.0 / (1.0 + exp(-s)), 6) >= 0.5
            THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END AS BIGINT) AS correct
      FROM lab JOIN sf USING (doc_id)""")

  private val denyList = Seq("customer", "vector", "spark")

  private val scrub = Q("q_text_scrub",
    (s, dir) => Tables.load(s, dir, "documents").select(
      col("doc_id") +: TextAnalysis.scrub(col("text"), denyList): _*),
    {
      val email = raw"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
      val phone = raw"[0-9]{3}-[0-9]{3}-[0-9]{4}"
      val dict = raw"\b(" + denyList.mkString("|") + raw")\b"
      raw"""
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
        CAST(len(regexp_extract_all(text, '$dict')) AS BIGINT) AS n_dict_hits,
        md5(regexp_replace(regexp_replace(regexp_replace(text,
          '$email', '<EMAIL>', 'g'),
          '$phone', '<PHONE>', 'g'),
          '$dict', '<REDACTED>', 'g')) AS scrubbed_md5
      FROM documents"""
    })

  private val incremental = Q("q_dedup_incremental",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Dedup.incrementalDedup(
        corpus = docs.filter(col("doc_id") % 2 === 0),
        batch = docs.filter(col("doc_id") % 2 === 1))
    },
    raw"""
      WITH fp AS (SELECT doc_id,
          md5(list_aggr(list_sort(list_distinct(
            string_split_regex(lower(trim(text)), '\s+'))), 'string_agg', ' ')) AS fp
        FROM documents),
      corpus AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0),
      batch AS (SELECT fp, min(doc_id) AS keep_id, count(*) AS n_in_batch
                FROM fp WHERE doc_id % 2 = 1 GROUP BY fp)
      SELECT fp, keep_id, n_in_batch FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)""")

  private val rebalance = Q("q_mix_rebalance",
    (s, dir) => Curation.rebalance(
        Tables.load(s, dir, "documents"),
        col("source"), col("doc_id"),
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.0))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars")),
    raw"""
      WITH b AS (SELECT doc_id, source, lang, n_chars,
          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % 10000 AS fine
        FROM documents)
      SELECT doc_id, source, lang, n_chars FROM b
      WHERE fine < CASE source WHEN 'src0' THEN 5000
                               WHEN 'src1' THEN 2500
                               WHEN 'src2' THEN 0
                               ELSE 10000 END""")

  private val tfidf = Q("q_text_tfidf_top",
    (s, dir) => TextAnalysis.tfidfTopTerms(
      Tables.load(s, dir, "documents"), k = 5),
    raw"""
      WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                 FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
      df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      n AS (SELECT count(*) AS n_docs FROM documents),
      sc AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
               round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS tfidf
             FROM tf JOIN df USING (tok), n),
      rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, tok ASC) AS rn FROM sc)
      SELECT doc_id, tok, tf, df, tfidf FROM rk WHERE rn <= 5""")

  /** End-to-end dedup: the corpus that SURVIVES near-dup clustering —
    * docs → shingles → MinHash → LSH pairs → connected components →
    * quality-ranked canonical keepers → surviving rows. The whole chain
    * is one hash-checked composition (the dedup analogue of
    * `q_flagship_flat`): a wiring bug in any stage shifts which doc_ids
    * survive and fails the gate. */
  private val dedupPipeline = Q("q_dedup_pipeline",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val cc = Dedup.connectedComponents(Dedup.lshCandidates(
        Dedup.minhashSignatures(Dedup.shingles(docs)))
        .select(col("da"), col("db")))
      val keepers = Dedup.canonicalPerCluster(docs, cc, qualityCol)
        .select(col("keep_id"))
      docs.join(keepers, col("doc_id") === col("keep_id"))
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    },
    componentsCte + raw""",
      ql AS (SELECT doc_id, $qualitySqlExpr AS q FROM toks),
      lab AS (SELECT ql.doc_id,
                coalesce(comp.component, ql.doc_id) AS component, ql.q
              FROM ql LEFT JOIN comp ON ql.doc_id = comp.doc_id),
      win AS (SELECT doc_id, row_number() OVER (PARTITION BY component
                ORDER BY q DESC, doc_id ASC) AS rn FROM lab)
      SELECT d.doc_id, d.source, d.lang, d.n_chars
      FROM documents d JOIN win ON d.doc_id = win.doc_id
      WHERE win.rn = 1""")

  /** End-to-end curation: quality-gate → scrub → deterministic split →
    * chunk the train split — the standard prep path from raw corpus to
    * training sequences, hash-checked as one composition. */
  private val curationPipeline = Q("q_curation_pipeline",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val gated = docs
        .withColumn("keep", TextAnalysis.gopherMetrics(
          10, 1000, 2.0, 10.0, 0.2, 0.2).last)
        .filter(col("keep"))
      val scrubbed = gated.withColumn("text",
        regexp_replace(col("text"),
          raw"\b(" + denyList.mkString("|") + raw")\b", "<REDACTED>"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      Curation.chunkText(
        Curation.hashSplit(scrubbed, col("doc_id"),
            Seq(("train", 90), ("val", 5), ("test", 5)))
          .filter(col("split") === "train"),
        chunkChars = 200, stride = 150)
    },
    {
      val dict = raw"\b(" + denyList.mkString("|") + raw")\b"
      raw"""
      WITH toks AS (SELECT doc_id, text,
                      string_split_regex(lower(trim(text)), '\s+') AS t
                    FROM documents),
      m AS (SELECT doc_id, text,
          CAST(len(t) AS BIGINT) AS word_count,
          CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS mean_word_len,
          CAST(len(list_distinct(t)) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS distinct_ratio,
          CAST(list_max(list_transform(list_distinct(t),
              d -> len(list_filter(t, x -> x = d)))) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS top_token_frac,
          ${TextQueries.hitsSql(TextAnalysis.enStops)} AS stop_hits
        FROM toks),
      gated AS (SELECT doc_id, text FROM m
        WHERE word_count >= 10 AND word_count <= 1000
          AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
          AND distinct_ratio >= 0.2 AND top_token_frac <= 0.2
          AND stop_hits >= 1),
      scrubbed AS (SELECT doc_id,
          regexp_replace(text, '$dict', '<REDACTED>', 'g') AS text
        FROM gated),
      train AS (SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n_chars
        FROM scrubbed
        WHERE $bucketSql < 90)
      SELECT doc_id, i // 150 AS chunk_idx, i AS chunk_start,
        substr(text, CAST(i + 1 AS INT), 200) AS chunk_text,
        CAST(len(substr(text, CAST(i + 1 AS INT), 200)) AS BIGINT) AS chunk_chars
      FROM train,
        unnest(CASE WHEN n_chars > 0 THEN range(0, n_chars, 150)
                    ELSE [] END) AS u(i)"""
    })

  /** DuckDB twin of `Dedup.ngrams(_, 5)` over a source-filtered slice:
    * 1-based list slicing mirrors Spark's `slice(t, i+1, 5)`. */
  private def sh5Sql(rel: String, pred: String) = raw"""
      (SELECT DISTINCT doc_id, array_to_string(t[(i+1):(i+5)], ' ') AS s
       FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
             FROM $rel WHERE $pred) tk,
         unnest(CASE WHEN len(t) >= 5 THEN range(0, len(t)-4)
                     ELSE [] END) AS u(i))"""

  private val decontaminate = Q("q_decontaminate",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      Decontaminate.contamination(
        train = docs.filter(col("source") =!= "src0"),
        bench = docs.filter(col("source") === "src0"),
        n = 5, rateThreshold = 0.2)
    },
    raw"""
      WITH th AS (SELECT doc_id,
          CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS sh
        FROM ${sh5Sql("documents", "source <> 'src0'")} t),
      bh AS (SELECT DISTINCT
          CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS sh
        FROM ${sh5Sql("documents", "source = 'src0'")} b),
      agg AS (SELECT th.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
          CAST(sum(CASE WHEN bh.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hits
        FROM th LEFT JOIN bh USING (sh) GROUP BY 1)
      SELECT doc_id, n_ngrams, n_hits,
        CAST(n_hits AS DOUBLE) / n_ngrams AS contamination_rate,
        CAST(CASE WHEN CAST(n_hits AS DOUBLE) / n_ngrams >= 0.2
                  THEN 1 ELSE 0 END AS BIGINT) AS is_contaminated
      FROM agg""")

  /** Token-budget mixture selection: training mixes are specified in
    * TOKENS per source, not document counts — keep each source's
    * highest-quality docs (the oracle-proven q_text_quality score)
    * until its inclusive token cumsum passes the budget. */
  private val tokenBudget = Q("q_mix_token_budget",
    (s, dir) => Curation.tokenBudgetMix(
      Tables.load(s, dir, "documents"), qualityCol, budgetTokens = 1500L),
    raw"""
      WITH toks AS (SELECT doc_id, source,
          string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents),
      q AS (SELECT doc_id, source, CAST(len(t) AS BIGINT) AS n_tokens,
          $qualitySqlExpr AS q
        FROM toks),
      c AS (SELECT doc_id, source, n_tokens, q,
          CAST(sum(n_tokens) OVER (PARTITION BY source
            ORDER BY q DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_tokens
        FROM q)
      SELECT doc_id, source, n_tokens, cum_tokens, round(q, 6) AS q_r
      FROM c WHERE cum_tokens <= 1500""")

  /** Derandomized weighted reservoir sample (A-ES): top-20 per source
    * by ln(hash-uniform)/token-weight — probability-proportional-to-
    * size sampling that is reproducible across runs and engines, and
    * mergeable across partitions (each keeps a local top-k; the
    * union's top-k is exact). */
  private val weightedSample = Q("q_sample_weighted",
    (s, dir) => Curation.weightedSample(
      Tables.load(s, dir, "documents"), k = 20),
    raw"""
      WITH toks AS (SELECT doc_id, source,
          CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
            AS n_tokens
        FROM documents),
      keyed AS (SELECT doc_id, source, n_tokens,
          ln((CAST(concat('0x',
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              + 1) / 1152921504606846976.0) / n_tokens AS key
        FROM toks),
      ranked AS (SELECT doc_id, source, n_tokens, key,
          CAST(row_number() OVER (PARTITION BY source
            ORDER BY key DESC, doc_id) AS BIGINT) AS rank
        FROM keyed)
      SELECT doc_id, source, n_tokens, rank, round(key, 6) AS key_r
      FROM ranked WHERE rank <= 20""")

  /** Bloom-sketch decontamination gate (bounds-check pattern, the
    * q_sketch_mergeable rule): the exact broadcast-join profile and the
    * Bloom broadcast-SKETCH profile run over the same split, and the
    * hashed row pins (a) the exact contaminated count, (b) Bloom's
    * no-false-negative guarantee holding per document (bloom flag ⊇
    * exact flag), and (c) false-positive flags within a 2 % margin —
    * generous: the 1 MB filter's per-n-gram fpp is ≪ 1 % at 10× the
    * fixture's benchmark cardinality, and a clean doc must false-hit on
    * 20 % of its n-grams to flip. The filter bytes themselves are not
    * SQL-reproducible, so the oracle recomputes the exact side and pins
    * the property booleans. */
  private val decontaminateBloom = Q("q_decontaminate_bloom",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val train = docs.filter(col("source") =!= "src0")
      val bench = docs.filter(col("source") === "src0")
      val exact = Decontaminate
        .contamination(train, bench, n = 5, rateThreshold = 0.2)
        .select(col("doc_id"), col("is_contaminated").as("exact_flag"))
      val bloomed = Decontaminate
        .contaminationBloom(train, bench, n = 5, rateThreshold = 0.2)
        .select(col("doc_id"), col("is_contaminated").as("bloom_flag"))
      exact.join(bloomed, "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("exact_flag")).as("n_contaminated"),
          min((col("bloom_flag") >= col("exact_flag")).cast("int"))
            .as("__nfn"),
          sum(col("bloom_flag")).as("__nb"))
        .select(col("n_docs"), col("n_contaminated"),
          (col("__nfn") === 1).as("no_false_negatives"),
          ((col("__nb") - col("n_contaminated")).cast("double") /
            col("n_docs") <= 0.02).as("fp_within_bound"))
    },
    raw"""
      WITH th AS (SELECT doc_id,
          CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS sh
        FROM ${sh5Sql("documents", "source <> 'src0'")} t),
      bh AS (SELECT DISTINCT
          CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS sh
        FROM ${sh5Sql("documents", "source = 'src0'")} b),
      agg AS (SELECT th.doc_id, count(*) AS n_ngrams,
          sum(CASE WHEN bh.sh IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
        FROM th LEFT JOIN bh USING (sh) GROUP BY 1)
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN CAST(n_hits AS DOUBLE) / n_ngrams >= 0.2
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        true AS no_false_negatives,
        true AS fp_within_bound
      FROM agg""")

  /** Shared oracle for both packing names — the exact window cumsum that
    * `Curation.packSequences`'s offsets must reproduce. */
  private val packSql = raw"""
      WITH toks AS (SELECT doc_id,
          CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
            AS n_tokens,
          $bucketSqlFull AS h
        FROM documents),
      cum AS (SELECT doc_id, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS start_offset
        FROM toks),
      pk AS (SELECT doc_id, n_tokens, start_offset,
          start_offset // 128 AS seq_first,
          (start_offset + greatest(n_tokens, 1) - 1) // 128 AS seq_last
        FROM cum)"""

  private val packSelect = packSql + raw"""
      SELECT doc_id, n_tokens, start_offset, seq_first, seq_last,
        seq_last - seq_first + 1 AS n_seqs
      FROM pk"""

  /** `q_pack_sequences` and `q_pack_sequences_scalable` run the one
    * packing form (`Prefix` offsets; the window form it replaced is the
    * reference in `PrefixSpec`); both names stay, with one oracle. */
  private val pack = Q("q_pack_sequences",
    (s, dir) => Curation.packSequences(
      Tables.load(s, dir, "documents"), seqLen = 128),
    packSelect)

  private val packScalable = Q("q_pack_sequences_scalable",
    (s, dir) => Curation.packSequences(
      Tables.load(s, dir, "documents"), seqLen = 128),
    packSelect)

  private val packManifest = Q("q_pack_manifest",
    (s, dir) => Curation.packingManifest(
      Curation.packSequences(
        Tables.load(s, dir, "documents"), seqLen = 128),
      seqLen = 128),
    packSql + raw"""
      SELECT u.seq_id, doc_id,
        least(start_offset + n_tokens, (u.seq_id + 1) * 128) -
          greatest(start_offset, u.seq_id * 128) AS tokens_in_seq
      FROM pk, unnest(range(seq_first, seq_last + 1)) AS u(seq_id)""")

  /** The full raw-corpus → training-sequences composition, hash-checked
    * end-to-end: near-dup dedup keeps one canonical doc per LSH/CC
    * cluster → the held-out `src0` slice acts as the benchmark and every
    * surviving non-benchmark doc is 3-gram-decontaminated against it
    * (anti-join removal, so sub-n-gram shorties survive) → Gopher
    * quality gate → deterministic-hash sequence packing. Each stage is
    * individually oracle-proven elsewhere (`q_dedup_pipeline`,
    * `q_decontaminate`, `q_quality_gopher`, `q_pack_sequences`); this
    * entry pins the WIRING — a dropped stage, wrong threshold, or
    * inner-vs-anti join slip changes the hash. */
  private val pretrainPipeline = Q("q_pretrain_pipeline",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val cc = Dedup.connectedComponents(Dedup.lshCandidates(
        Dedup.minhashSignatures(Dedup.shingles(docs)))
        .select(col("da"), col("db")))
      val keepers = Dedup.canonicalPerCluster(docs, cc, qualityCol)
        .select(col("keep_id").as("doc_id"))
      val corpus = docs.join(keepers, "doc_id")
        .where(col("source") =!= "src0")
      val bench = docs.where(col("source") === "src0")
      val clean = Decontaminate.removeContaminated(corpus, bench,
        n = 3, rateThreshold = 0.2)
      val gated = clean
        .withColumn("keep", TextAnalysis.gopherMetrics(
          10, 1000, 2.0, 10.0, 0.2, 0.2).last)
        .filter(col("keep"))
      Curation.packSequences(gated, seqLen = 128)
    },
    componentsCte + raw""",
      ql AS (SELECT doc_id, $qualitySqlExpr AS q FROM toks),
      lab AS (SELECT ql.doc_id,
                coalesce(comp.component, ql.doc_id) AS component, ql.q
              FROM ql LEFT JOIN comp ON ql.doc_id = comp.doc_id),
      win AS (SELECT doc_id, row_number() OVER (PARTITION BY component
                ORDER BY q DESC, doc_id ASC) AS rn FROM lab),
      keep AS (SELECT w.doc_id FROM win w JOIN documents d USING (doc_id)
               WHERE w.rn = 1 AND d.source <> 'src0'),
      bsh AS (SELECT DISTINCT
                CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS hh
              FROM sh JOIN documents db USING (doc_id)
              WHERE db.source = 'src0'),
      csh AS (SELECT sh.doc_id,
                CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS hh
              FROM sh JOIN keep USING (doc_id)),
      cont AS (SELECT c.doc_id, count(*) AS n,
                 sum(CASE WHEN b.hh IS NOT NULL THEN 1 ELSE 0 END) AS hits
               FROM csh c LEFT JOIN bsh b USING (hh) GROUP BY 1),
      clean AS (SELECT k.doc_id FROM keep k
                WHERE k.doc_id NOT IN (SELECT doc_id FROM cont
                  WHERE CAST(hits AS DOUBLE) / n >= 0.2)),
      gm AS (SELECT toks.doc_id,
          CAST(len(t) AS BIGINT) AS word_count,
          CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS mean_word_len,
          CAST(len(list_distinct(t)) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS distinct_ratio,
          CAST(list_max(list_transform(list_distinct(t),
              d -> len(list_filter(t, x -> x = d)))) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS top_token_frac,
          ${TextQueries.hitsSql(TextAnalysis.enStops)} AS stop_hits
        FROM toks JOIN clean USING (doc_id)),
      gated AS (SELECT doc_id FROM gm
        WHERE word_count >= 10 AND word_count <= 1000
          AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
          AND distinct_ratio >= 0.2 AND top_token_frac <= 0.2
          AND stop_hits >= 1),
      ptoks AS (SELECT toks.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
          $bucketSqlFull AS h
        FROM toks JOIN gated USING (doc_id)),
      pcum AS (SELECT doc_id, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS start_offset
        FROM ptoks),
      ppk AS (SELECT doc_id, n_tokens, start_offset,
          start_offset // 128 AS seq_first,
          (start_offset + greatest(n_tokens, 1) - 1) // 128 AS seq_last
        FROM pcum)
      SELECT doc_id, n_tokens, start_offset, seq_first, seq_last,
        seq_last - seq_first + 1 AS n_seqs
      FROM ppk""")

  /** The pretrain composition EXTENDED with the round-7 exact-join
    * operators — the full curation ladder a 100 TB corpus build runs.
    * The exact signals are computed on the raw (non-heldout) corpus
    * and applied FIRST, then cluster-level near-dup runs on the
    * survivors — one signal pass over the corpus, removals applied,
    * probabilistic clustering last:
    * (1) EXACT containment dedup (a ≥ 0.9-contained document is a
    *     quote/subset; the SMALLER side of each pair drops, tie →
    *     larger doc_id);
    * (2) sub-document repeated-span gate (ExactSubstr shape: ≥ half
    *     the tokens inside cross-document 8-gram spans → boilerplate,
    *     drop);
    * (3) LSH/CC canonical whole-document near-dup on the survivors;
    * (4) 3-gram decontamination vs the held-out `src0` slice;
    * (5) Gopher quality gate; (6) sequence packing.
    * Every stage is individually oracle-proven elsewhere
    * (`q_dedup_containment_exact`, `q_dedup_substring`,
    * `q_pretrain_pipeline`); this entry pins the WIRING of the two
    * exact-join stages into the end-to-end path — at sf0.01 they
    * remove documents the downstream stages never see, so a dropped
    * or disconnected stage changes the hash. */
  /** Shared Scala body for the two pretrain compositions. `capped`
    * selects the stage-1 containment candidate pass: the
    * guaranteed-complete prefix filter (`q_pretrain_full`) or the
    * adaptive-df-capped mode (`q_pretrain_capped`) — the 100 TB
    * operating path, since the exact filter's posting mass is the
    * measured single-box spill ceiling (PERF.md round 10/11).
    * Containment values on surviving candidates are exact either way;
    * only candidate recall differs, and `q_dedup_containment_recall`
    * gates that (1.0 at the test sfs). */
  private def pretrainBody(capped: Boolean)(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
      val docs = Tables.load(s, dir, "documents")
      // stages 1-4 are the shared lexical ladder (graft.text.Pipelines:
      // capped/exact containment → span gate → LSH/CC canonical →
      // decontamination) — factored so the flagship composition and the
      // pretrain twins cannot drift on thresholds or join kinds
      val clean = graft.text.Pipelines.lexicalClean(docs, capped)
      val gated = clean
        .withColumn("keep", TextAnalysis.gopherMetrics(
          10, 1000, 2.0, 10.0, 0.2, 0.2).last)
        .filter(col("keep"))
      Curation.packSequences(gated, seqLen = 128)
  }

  /** kcom producers for [[pretrainSql]]: both emit (da, db, nc) over
    * the non-heldout shingle frame `sh0`; the capped form mirrors
    * `Dedup.containmentPairsCapped`'s adaptive df cap clause by clause
    * (quantile 0.99 ∧ pair-mass ≤ 128·n_docs, floor 10). */
  private val kcomExact = raw"""
      kcom AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS nc
               FROM sh0 a JOIN sh0 b USING (s)
               WHERE a.doc_id < b.doc_id GROUP BY 1, 2),"""

  private val kcomCapped = raw"""
      kdf AS (SELECT s, count(*) AS df FROM sh0 GROUP BY s),
      khist AS (SELECT df, count(*) AS c FROM kdf GROUP BY df),
      kcum AS (SELECT df, sum(c) OVER (ORDER BY df) AS cc,
                 sum(c * df * (df - 1) / 2) OVER (ORDER BY df) AS cm,
                 sum(c) OVER () AS nsh FROM khist),
      knd AS (SELECT count(DISTINCT doc_id) AS ndocs FROM sh0),
      kcap AS (SELECT greatest(10, least(
                 (SELECT min(df) FROM kcum WHERE cc >= ceil(0.99 * nsh)),
                 coalesce((SELECT max(df) FROM kcum, knd
                           WHERE cm <= 128 * ndocs), 10))) AS cap),
      kcand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                FROM sh0 a JOIN sh0 b USING (s) JOIN kdf USING (s), kcap
                WHERE a.doc_id < b.doc_id AND df <= kcap.cap),
      kcom AS (SELECT c.da, c.db, count(*) AS nc
               FROM kcand c JOIN sh0 a ON a.doc_id = c.da
               JOIN sh0 b ON b.doc_id = c.db AND b.s = a.s
               GROUP BY 1, 2),"""

  /** Stages 1-4 of the pretrain/flagship oracle (ends at the `clean`
    * doc-id CTE — the lexical ladder `Pipelines.lexicalClean` mirrors):
    * containment drop (capped/exact per `kcom`), span gate, LSH/CC
    * canonical, decontamination. */
  private def curationCleanSql(kcom: String): String =
    TextQueries.lshPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") + raw""",
      c0 AS (SELECT doc_id FROM documents WHERE source <> 'src0'),
      sh0 AS (SELECT sh.doc_id, sh.s FROM sh JOIN c0 USING (doc_id)),
      ksz AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY doc_id),""" +
    kcom + raw"""
      kdrop AS (SELECT DISTINCT CASE WHEN sa.n < sb.n THEN da
                     WHEN sb.n < sa.n THEN db
                     ELSE greatest(da, db) END AS doc_id
                FROM kcom JOIN ksz sa ON da = sa.doc_id
                          JOIN ksz sb ON db = sb.doc_id
                WHERE CAST(nc AS DOUBLE) / least(sa.n, sb.n) >= 0.9),
      k8 AS (SELECT toks.doc_id, i AS pos,
               array_to_string(t[i+1:i+8], ' ') AS g8
             FROM toks JOIN c0 USING (doc_id),
                  unnest(CASE WHEN len(t) >= 8 THEN range(0, len(t) - 7)
                              ELSE [] END) AS u(i)),
      kd AS (SELECT g8 FROM k8 GROUP BY g8
             HAVING count(DISTINCT doc_id) > 1),
      kcov AS (SELECT DISTINCT doc_id, pos + j AS tp
               FROM k8 JOIN kd USING (g8), unnest(range(0, 8)) AS v(j)),
      krep AS (SELECT doc_id, count(*) AS n_rep FROM kcov GROUP BY doc_id),
      ktok AS (SELECT toks.doc_id, CAST(len(t) AS BIGINT) AS ntk
               FROM toks JOIN c0 USING (doc_id)),
      sdrop AS (SELECT ktok.doc_id FROM ktok LEFT JOIN krep USING (doc_id)
                WHERE CAST(coalesce(n_rep, 0) AS DOUBLE) >= 0.5 * ntk),
      c1 AS (SELECT doc_id FROM c0
             WHERE doc_id NOT IN (SELECT doc_id FROM kdrop)
               AND doc_id NOT IN (SELECT doc_id FROM sdrop)),
      e2 AS (SELECT da AS src, db AS dst FROM pairs
             WHERE da IN (SELECT doc_id FROM c1)
               AND db IN (SELECT doc_id FROM c1)
             UNION ALL
             SELECT db, da FROM pairs
             WHERE da IN (SELECT doc_id FROM c1)
               AND db IN (SELECT doc_id FROM c1)),
      r2(node, x) AS (
        SELECT DISTINCT src, src FROM e2
        UNION
        SELECT r2.node, e2.dst FROM r2 JOIN e2 ON r2.x = e2.src),
      comp2 AS (SELECT node AS doc_id, min(x) AS component
                FROM r2 GROUP BY node),
      ql AS (SELECT toks.doc_id, $qualitySqlExpr AS q
             FROM toks JOIN c1 USING (doc_id)),
      lab AS (SELECT ql.doc_id,
                coalesce(comp2.component, ql.doc_id) AS component, ql.q
              FROM ql LEFT JOIN comp2 ON ql.doc_id = comp2.doc_id),
      win AS (SELECT doc_id, row_number() OVER (PARTITION BY component
                ORDER BY q DESC, doc_id ASC) AS rn FROM lab),
      keep AS (SELECT doc_id FROM win WHERE rn = 1),
      bsh AS (SELECT DISTINCT
                CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS hh
              FROM sh JOIN documents db USING (doc_id)
              WHERE db.source = 'src0'),
      csh AS (SELECT sh.doc_id,
                CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS hh
              FROM sh JOIN keep USING (doc_id)),
      cont AS (SELECT c.doc_id, count(*) AS n,
                 sum(CASE WHEN b.hh IS NOT NULL THEN 1 ELSE 0 END) AS hits
               FROM csh c LEFT JOIN bsh b USING (hh) GROUP BY 1),
      clean AS (SELECT k.doc_id FROM keep k
                WHERE k.doc_id NOT IN (SELECT doc_id FROM cont
                  WHERE CAST(hits AS DOUBLE) / n >= 0.2))"""

  /** Deterministic-hash sequence packing over the doc-id CTE `src`
    * plus the final projection — the shared oracle tail. */
  private def packTailSql(src: String): String = raw""",
      ptoks AS (SELECT toks.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
          $bucketSqlFull AS h
        FROM toks JOIN $src USING (doc_id)),
      pcum AS (SELECT doc_id, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS start_offset
        FROM ptoks),
      ppk AS (SELECT doc_id, n_tokens, start_offset,
          start_offset // 128 AS seq_first,
          (start_offset + greatest(n_tokens, 1) - 1) // 128 AS seq_last
        FROM pcum)
      SELECT doc_id, n_tokens, start_offset, seq_first, seq_last,
        seq_last - seq_first + 1 AS n_seqs
      FROM ppk"""

  private def pretrainSql(kcom: String): String =
    curationCleanSql(kcom) + raw""",
      gm AS (SELECT toks.doc_id,
          CAST(len(t) AS BIGINT) AS word_count,
          CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS mean_word_len,
          CAST(len(list_distinct(t)) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS distinct_ratio,
          CAST(list_max(list_transform(list_distinct(t),
              d -> len(list_filter(t, x -> x = d)))) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS top_token_frac,
          ${TextQueries.hitsSql(TextAnalysis.enStops)} AS stop_hits
        FROM toks JOIN clean USING (doc_id)),
      gated AS (SELECT doc_id FROM gm
        WHERE word_count >= 10 AND word_count <= 1000
          AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
          AND distinct_ratio >= 0.2 AND top_token_frac <= 0.2
          AND stop_hits >= 1)""" + packTailSql("gated")

  private val pretrainFull = Q("q_pretrain_full",
    pretrainBody(capped = false), pretrainSql(kcomExact))

  /** The capped composition twin (verdict r11 #4): identical wiring to
    * `q_pretrain_full` but stage 1 runs the adaptive-df-capped
    * containment pass — candidate mass ≤ 128·n_docs by construction,
    * the mode a 100 TB corpus build actually runs (the exact filter's
    * posting mass is the measured single-box spill ceiling). The oracle
    * mirrors the cap computation clause by clause, so the capped
    * semantics — not just the uncapped ideal — are hash-checked
    * end-to-end through the five downstream stages. */
  private val pretrainCapped = Q("q_pretrain_capped",
    pretrainBody(capped = true), pretrainSql(kcomCapped))

  /** Hashed-presence + scalar-metric feature CTEs for a distill chain,
    * prefixed `p`, over the doc-id CTE `ids` — the SQL twin of
    * `Distill.rawFeatures` restricted to a document set. Requires the
    * global `toks` CTE. */
  private def distillFeatsSql(p: String, ids: String): String = raw"""
      ${p}tk AS (SELECT toks.doc_id, tok
                 FROM toks JOIN $ids USING (doc_id), unnest(t) AS u(tok)),
      ${p}ug AS (SELECT DISTINCT doc_id,
               CAST(CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
                 % 64 AS INT) AS b
             FROM ${p}tk),
      ${p}feats AS MATERIALIZED (
                SELECT doc_id, b, 1.0 AS x FROM ${p}ug
                UNION ALL
                SELECT doc_id, -1 AS b, 1.0 AS x FROM $ids
                UNION ALL
                SELECT toks.doc_id, -2 AS b,
                  round(ln(1.0 + CAST(len(t) AS DOUBLE)) / 10, 6) AS x
                FROM toks JOIN $ids USING (doc_id)
                UNION ALL
                SELECT toks.doc_id, -3 AS b,
                  round(CAST(len(list_distinct(t)) AS DOUBLE)
                    / CAST(len(t) AS DOUBLE), 6) AS x
                FROM toks JOIN $ids USING (doc_id)
                UNION ALL
                SELECT toks.doc_id, -4 AS b,
                  round(CAST(list_max(list_transform(list_distinct(t),
                      d -> len(list_filter(t, x -> x = d)))) AS DOUBLE)
                    / CAST(len(t) AS DOUBLE), 6) AS x
                FROM toks JOIN $ids USING (doc_id)
                UNION ALL
                SELECT toks.doc_id, -5 AS b,
                  round(CAST(${TextQueries.hitsSql(TextAnalysis.enStops)}
                    AS DOUBLE) / CAST(len(t) AS DOUBLE), 6) AS x
                FROM toks JOIN $ids USING (doc_id))"""

  /** One GD iteration of a PREFIXED distill chain (lr = 16): same
    * trajectory as [[distillIter]] over `${p}feats`/`${p}lab`/`${p}nd`. */
  private def distillIterP(p: String, i: Int, prev: String): String = raw"""
      ${p}s$i AS (SELECT f.doc_id,
                CAST(sum(CAST(round(f.x * w.w, 8) AS DECIMAL(20,8)))
                  AS DOUBLE) AS s
              FROM ${p}feats f JOIN $prev w USING (b) GROUP BY f.doc_id),
      ${p}r$i AS (SELECT lab.doc_id,
                round(1.0 / (1.0 + exp(-s)), 6) - y AS r
              FROM ${p}lab lab JOIN ${p}s$i USING (doc_id)),
      ${p}g$i AS (SELECT b,
                round(CAST(sum(CAST(round(x * r, 8) AS DECIMAL(20,8)))
                  AS DOUBLE) / CAST(ndocs AS DOUBLE), 8) AS g
              FROM ${p}feats JOIN ${p}r$i USING (doc_id), ${p}nd
              GROUP BY b, ndocs),
      ${p}w$i AS MATERIALIZED (
              SELECT w.b, round(w.w - 16.0 * coalesce(g.g, 0.0), 8) AS w
              FROM $prev w LEFT JOIN ${p}g$i g USING (b))"""

  /** The flagship oracle: the capped lexical ladder to `clean`, the
    * SemDeDup trajectory over the FILTERED embedding set (seeds are
    * survivors with vec_id < 8 — the filtered-input seeding
    * `Kmeans.fit` does), the 20-round distill trajectory trained on
    * the doc_id % 4 sample, one scoring pass over the survivors, and
    * the packing tail. Every stage's CTE group mirrors its registered
    * single-stage oracle; only the WIRING (which set feeds which
    * stage) is new — exactly what the composition query pins. */
  private def flagshipSql: String =
    // toks and clean are referenced ~20+ times across the composed
    // stages; unmaterialized, DuckDB inlines a fresh parquet scan +
    // re-tokenization per reference (measured: file-handle exhaustion
    // at 20k ulimit before any wrong answer)
    curationCleanSql(kcomCapped)
      .replaceFirst("toks AS \\(", "toks AS MATERIALIZED (")
      .replaceFirst("clean AS \\(", "clean AS MATERIALIZED (") + raw""",
      vp AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
             WHERE vec_id IN (SELECT doc_id FROM clean)),
      vc0 AS (SELECT vec_id AS cid, e AS cv FROM vp WHERE vec_id < 8),
      va1 AS ${SimilarityQueries.kmAssign("vc0", "vp")},
      vc1 AS ${SimilarityQueries.kmRecenter("va1", "vp")},
      va2 AS ${SimilarityQueries.kmAssign("vc1", "vp")},
      vc2 AS ${SimilarityQueries.kmRecenter("va2", "vp")},
      vaf AS ${SimilarityQueries.kmAssign("(SELECT cid, cv FROM vc2)", "vp")},
      vpn AS (SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm
              FROM vp),
      vj AS (SELECT vaf.vec_id, vaf.cid, vpn.e, vpn.nrm
             FROM vaf JOIN vpn USING (vec_id)),
      vdom AS (SELECT b.vec_id FROM vj a JOIN vj b
                 ON a.cid = b.cid AND a.vec_id < b.vec_id
               WHERE list_inner_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.35
               GROUP BY b.vec_id),
      c3 AS MATERIALIZED (SELECT doc_id FROM clean
             WHERE doc_id NOT IN (SELECT vec_id FROM vdom)),
      dsamp AS MATERIALIZED (
        SELECT doc_id FROM documents WHERE doc_id % 4 = 0),""" +
    distillFeatsSql("d", "dsamp") + raw""",
      dgm AS (SELECT toks.doc_id,
          CAST(len(t) AS BIGINT) AS word_count,
          CAST(list_sum(list_transform(t, x -> len(x))) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS mean_word_len,
          CAST(len(list_distinct(t)) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS distinct_ratio,
          CAST(list_max(list_transform(list_distinct(t),
              d -> len(list_filter(t, x -> x = d)))) AS BIGINT)
            / CAST(len(t) AS BIGINT) AS top_token_frac,
          ${TextQueries.hitsSql(TextAnalysis.enStops)} AS stop_hits
        FROM toks JOIN dsamp USING (doc_id)),
      dlab AS MATERIALIZED (SELECT doc_id,
          CAST(CASE WHEN word_count >= 10 AND word_count <= 1000
            AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
            AND distinct_ratio >= 0.2 AND top_token_frac <= 0.2
            AND stop_hits >= 1 THEN 1 ELSE 0 END AS BIGINT) AS y
        FROM dgm),
      dnd AS MATERIALIZED (SELECT count(*) AS ndocs FROM dsamp),
      dw0 AS MATERIALIZED (
        SELECT DISTINCT b, CAST(0.0 AS DOUBLE) AS w FROM dfeats),""" +
    (1 to 20).map(i => distillIterP("d", i, s"dw${i - 1}")).mkString(",") +
    "," + distillFeatsSql("s", "c3") + raw""",
      ssc AS (SELECT f.doc_id,
                CAST(sum(CAST(round(f.x * w.w, 8) AS DECIMAL(20,8)))
                  AS DOUBLE) AS s
              FROM sfeats f JOIN dw20 w USING (b) GROUP BY f.doc_id),
      fgated AS (SELECT doc_id FROM ssc
                 WHERE round(1.0 / (1.0 + exp(-s)), 6) >= 0.5)""" +
    packTailSql("fgated")

  /** The end-to-end curation flagship (verdict r12 #5): capped
    * containment + span gate + LSH/CC canonical + decontamination +
    * SemDeDup (two-level-capable assignment) + the DISTILLED gate in
    * its train-on-sample / score-the-corpus production shape +
    * packing — every round-12 operator wired into one composition,
    * hash-checked end to end. `SparkEntry.entry` runs this same
    * composition (audit-stamped onto the prospect build).
    *
    * Timing note: `curationPipeline` does most of its work EAGERLY at
    * DataFrame-construction time (the cut seams run
    * stages 1–5; trainGate runs 20 GD rounds, one Spark job each), so any
    * harness timing this query must wrap construction + action in one
    * window. Bench/LegBench both time `fn(spark, dir).count()`, which
    * does exactly that. A plan-only consumer (graft.Explain) pays the
    * same seams before it can print the plan. The form stays eager on
    * purpose — it keeps the bench contract (construction + one action
    * = total cost) and the committed decade artifacts comparable. */
  private val flagshipCuration = Q("q_flagship_curation",
    (s, dir) => graft.Flagship.curationPipeline(s, dir),
    flagshipSql)

  /** Consecutive-token run collapse (repetition scrub) — removal counts,
    * ratio, and the md5 of the cleaned text are all hash-checked. */
  private val runCollapse = Q("q_text_run_collapse",
    (s, dir) => Curation.collapseTokenRuns(
      Tables.load(s, dir, "documents"), col("doc_id"), col("text")),
    raw"""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents),
      k AS (SELECT doc_id, toks,
          list_filter(toks, (x, i) -> i = 1 OR x <> toks[i - 1]) AS kept
        FROM t)
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
        round(CAST(len(toks) - len(kept) AS DOUBLE) /
          CAST(len(toks) AS DOUBLE), 6) AS removed_ratio,
        md5(array_to_string(kept, ' ')) AS clean_md5
      FROM k""")

  /** One PageRank round in oracle SQL (see `operators/Graph.pageRank`):
    * decimal-exact inflow sums + the teleport term, all constants
    * double-cast so both engines run identical IEEE ops. */
  private def prIter(prev: String): String = s"""
      (SELECT nodes.node,
         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.nv
           + coalesce(inf.inflow, CAST(0 AS DOUBLE)) AS rank
       FROM nodes CROSS JOIN nn LEFT JOIN (
         SELECT e.dst AS node,
           CAST(sum(CAST(r.rank / d.deg * CAST(0.85 AS DOUBLE)
             AS DECIMAL(24,12))) AS DOUBLE) AS inflow
         FROM $prev r JOIN deg d ON r.node = d.src JOIN e ON e.src = d.src
         GROUP BY e.dst) inf ON nodes.node = inf.node)"""

  /** PageRank (3 rounds, damping 0.85) over the undirected LSH near-dup
    * graph: hub documents — cluster centers many docs resemble — get
    * the mass. Isolated docs keep the teleport rank. */
  private val pagerank = Q("q_graph_pagerank",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val pairs = Dedup.lshCandidates(Dedup.minhashSignatures(
        Dedup.shingles(docs))).select(col("da"), col("db"))
      graft.operators.Graph.pageRank(
          nodes = docs.select(col("doc_id").as("node")),
          edges = pairs.select(col("da").as("src"), col("db").as("dst"))
            .unionByName(
              pairs.select(col("db").as("src"), col("da").as("dst"))),
          damping = 0.85, iters = 3)
        .select(col("node").as("doc_id"), round(col("rank"), 9).as("rank_r"))
    },
    TextQueries.lshPairsCte + s""",
      nodes AS (SELECT doc_id AS node FROM documents),
      nn AS (SELECT CAST(count(*) AS DOUBLE) AS nv FROM nodes),
      e AS (SELECT da AS src, db AS dst FROM pairs
            UNION ALL
            SELECT db, da FROM pairs),
      deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.nv AS rank
             FROM nodes CROSS JOIN nn),
      r1 AS ${prIter("r0")},
      r2 AS ${prIter("r1")},
      r3 AS ${prIter("r2")}
      SELECT node AS doc_id, round(rank, 9) AS rank_r FROM r3""")

  /** Per-node triangle counts over the LSH near-dup graph
    * (degree-directed wedge enumeration — O(m^{3/2}) bound, no
    * hub blow-up). Triangle density separates true duplicate clusters
    * from chains of borderline matches. */
  private val triangles = Q("q_graph_triangles",
    (s, dir) => {
      val pairs = Dedup.lshCandidates(Dedup.minhashSignatures(
          Dedup.shingles(Tables.load(s, dir, "documents"))))
        .select(col("da"), col("db"))
      graft.operators.Graph.triangles(pairs)
    },
    TextQueries.lshPairsCte + raw""",
      e AS (SELECT DISTINCT least(da, db) AS a, greatest(da, db) AS b
            FROM pairs WHERE da <> db),
      deg AS (SELECT node, count(*) AS deg FROM (
                SELECT a AS node FROM e UNION ALL SELECT b FROM e)
              GROUP BY node),
      d AS (SELECT CASE WHEN xa.deg < xb.deg
                     OR (xa.deg = xb.deg AND e.a < e.b)
                   THEN e.a ELSE e.b END AS src,
                   CASE WHEN xa.deg < xb.deg
                     OR (xa.deg = xb.deg AND e.a < e.b)
                   THEN e.b ELSE e.a END AS dst
            FROM e JOIN deg xa ON xa.node = e.a
                   JOIN deg xb ON xb.node = e.b),
      w AS (SELECT x.src AS apex, x.dst AS u, y.dst AS v
            FROM d x JOIN d y ON x.src = y.src AND x.dst < y.dst),
      tri AS (SELECT apex, u, v FROM w
              JOIN e ON least(u, v) = e.a AND greatest(u, v) = e.b),
      pn AS (SELECT unnest([apex, u, v]) AS doc_id FROM tri)
      SELECT doc_id, count(*) AS n_triangles FROM pn GROUP BY doc_id""")

  /** Per-source cap: at most 10 docs per source, longest-first with
    * doc_id tiebreak — the web-curation domain cap. */
  private val sourceCap = Q("q_source_cap",
    (s, dir) => Curation.capPerSource(
      Tables.load(s, dir, "documents"), cap = 10),
    """
      WITH r AS (SELECT doc_id, source, n_chars,
          row_number() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id) AS rn
        FROM documents)
      SELECT doc_id, source, n_chars, rn FROM r WHERE rn <= 10""")

  /** One-pass table profile of orders (float column pre-cast to
    * DECIMAL so min/max strings are engine-portable). */
  private val profileTable = Q("q_profile_table",
    (s, dir) => graft.operators.Profile.table(
      Tables.load(s, dir, "orders")
        .withColumn("o_totalprice",
          col("o_totalprice").cast("decimal(18,2)")),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice")),
    """
      WITH o AS (SELECT *, CAST(o_totalprice AS DECIMAL(18,2)) AS tp
                 FROM orders)
      SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        count(*) FILTER (o_orderkey IS NULL) AS n_nulls,
        count(DISTINCT o_orderkey) AS n_distinct,
        CAST(min(o_orderkey) AS VARCHAR) AS min_val,
        CAST(max(o_orderkey) AS VARCHAR) AS max_val FROM o
      UNION ALL
      SELECT 'o_custkey', count(*),
        count(*) FILTER (o_custkey IS NULL), count(DISTINCT o_custkey),
        CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
      FROM o
      UNION ALL
      SELECT 'o_orderstatus', count(*),
        count(*) FILTER (o_orderstatus IS NULL),
        count(DISTINCT o_orderstatus),
        min(o_orderstatus), max(o_orderstatus) FROM o
      UNION ALL
      SELECT 'o_orderpriority', count(*),
        count(*) FILTER (o_orderpriority IS NULL),
        count(DISTINCT o_orderpriority),
        min(o_orderpriority), max(o_orderpriority) FROM o
      UNION ALL
      SELECT 'o_totalprice', count(*),
        count(*) FILTER (tp IS NULL), count(DISTINCT tp),
        CAST(min(tp) AS VARCHAR), CAST(max(tp) AS VARCHAR) FROM o""")

  /** Per-source percent-rank / cume-dist scaling of the length signal —
    * rank-normalized quality features (scale-free, outlier-immune).
    * Partitioned by source: one shuffle, never a global single-partition
    * sort. */
  private val rankScale = Q("q_quality_rank_scale",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("p_rank", round(percent_rank().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
            .orderBy(col("n_chars"), col("doc_id"))), 6))
        .withColumn("c_dist", round(cume_dist().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
            .orderBy(col("n_chars"), col("doc_id"))), 6)),
    """
      SELECT doc_id, source, n_chars,
        round(percent_rank() OVER w, 6) AS p_rank,
        round(cume_dist() OVER w, 6) AS c_dist
      FROM documents
      WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)""")

  /** DSIR-style target-domain importance weights (Xie et al. 2023):
    * hashed-unigram log-likelihood ratio of a curated target slice
    * (src0–src2) vs the whole corpus, summed per document — the
    * standard "select raw web data that looks like my curated set"
    * scorer. Scoring only (composes with quantileBand/hashSplit for
    * selection); the bucket model is 512 rows and broadcast, so the
    * corpus shuffles once on doc_id and never on bucket. */
  private val dsir = Q("q_curation_dsir",
    (s, dir) => Curation.dsirWeights(
      Tables.load(s, dir, "documents"),
      col("source").isin("src0", "src1", "src2"), buckets = 512),
    raw"""
      WITH toks AS (SELECT doc_id, source IN ('src0','src1','src2') AS is_target,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents),
      tb AS (SELECT doc_id, is_target,
          CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % 512 AS b,
          count(*) AS c
        FROM toks GROUP BY 1, 2, 3),
      model AS (SELECT b,
          sum(CASE WHEN is_target THEN c ELSE 0 END) AS ct,
          sum(c) AS cr
        FROM tb GROUP BY b),
      tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
          CAST(sum(cr) AS BIGINT) AS tr FROM model),
      llr AS (SELECT b,
          round(ln((ct + 1) / CAST(tt + 512 AS DOUBLE)) -
                ln((cr + 1) / CAST(tr + 512 AS DOUBLE)), 6) AS llr
        FROM model, tot)
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
        CAST(sum(CAST(round(c * llr, 6) AS DECIMAL(18,6))) AS DOUBLE)
          AS log_weight
      FROM tb JOIN llr USING (b) GROUP BY doc_id""")

  /** Temperature-scaled mixture weights (α = 0.7): per-source sampling
    * probability p^α/Σp^α over raw token shares, plus the effective
    * epoch multiplier a training run budgets against. Reduces to one
    * row per source immediately — constant-sized at any corpus scale. */
  private val mixTemperature = Q("q_mix_temperature",
    (s, dir) => Curation.temperatureMix(
      Tables.load(s, dir, "documents"), col("source"),
      size(TextAnalysis.tokens).cast("long"), alpha = 0.7),
    raw"""
      WITH counts AS (SELECT source AS stratum,
          CAST(sum(len(string_split_regex(lower(trim(text)), '\s+')))
            AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens
              FROM counts),
      shares AS (SELECT stratum, n_tokens,
          n_tokens / CAST(total_tokens AS DOUBLE) AS p_raw,
          CAST(round(pow(n_tokens / CAST(total_tokens AS DOUBLE), 0.7), 8)
            AS DECIMAL(20,8)) AS p_alpha
        FROM counts, tot),
      norm AS (SELECT sum(p_alpha) AS norm FROM shares)
      SELECT stratum, n_tokens, round(p_raw, 6) AS p_raw,
        round(CASE WHEN CAST(norm AS DOUBLE) > 0
          THEN CAST(p_alpha AS DOUBLE) / CAST(norm AS DOUBLE)
          ELSE 0.0 END, 6) AS weight,
        round(CASE WHEN p_raw > 0 AND CAST(norm AS DOUBLE) > 0
          THEN CAST(p_alpha AS DOUBLE) / CAST(norm AS DOUBLE) / p_raw
          ELSE 0.0 END, 6) AS epochs
      FROM shares, norm""")

  val all: Seq[Q] = Seq(components, canonical, split, band, chunks, stratified,
    gopher, scrub, incremental, rebalance, tfidf, dedupPipeline,
    curationPipeline, decontaminate, decontaminateBloom, pack,
    packScalable, packManifest, runCollapse, pretrainPipeline,
    pretrainFull, pretrainCapped, flagshipCuration, pagerank,
    sourceCap, profileTable, triangles, rankScale, tokenBudget,
    weightedSample, dsir, mixTemperature, distilled)
}
