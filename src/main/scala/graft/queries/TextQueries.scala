package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.{Dedup, TextAnalysis}

/** Text-analysis + dedup fixtures over `documents`. The MinHash/SimHash
  * oracles are generated from the same constants as the Scala
  * implementation (`Dedup.AS/BS/P`) so engine and oracle cannot drift.
  */
object TextQueries {

  /** Shared DuckDB CTE: distinct word 3-shingles (1-based list indexing
    * mirrors the Spark 0-based `transform(sequence(0, size-3), …)`). */
  private[queries] val shCte = raw"""
      WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                    FROM documents),
      sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
             FROM toks, unnest(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1)
                                    ELSE [] END) AS r(i))"""

  private val xmSql =
    "CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647"

  // ---------------------------------------------------------------- tokens
  private val tokenCount = Q("q_text_token_count",
    (s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        size(TextAnalysis.tokens).cast("long").as("ws_tokens"),
        size(TextAnalysis.alnumTokens).cast("long").as("alnum_tokens"),
        col("n_chars")),
    raw"""
      SELECT doc_id,
        CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS ws_tokens,
        CAST(len(list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'),
                             x -> x <> '')) AS BIGINT) AS alnum_tokens,
        n_chars
      FROM documents""")

  // ---------------------------------------------------------------- lang id
  private[queries] def hitsSql(stops: Seq[String]): String =
    s"CAST(len(list_filter(t, x -> list_contains([${stops.map("'" + _ + "'").mkString(",")}], x))) AS BIGINT)"

  private val langId = Q("q_text_lang_id",
    (s, dir) => {
      val t = TextAnalysis.tokens
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.stopHits(t, TextAnalysis.enStops).cast("long").as("en_hits"),
        TextAnalysis.stopHits(t, TextAnalysis.esStops).cast("long").as("es_hits"),
        TextAnalysis.stopHits(t, TextAnalysis.deStops).cast("long").as("de_hits"),
        TextAnalysis.stopHits(t, TextAnalysis.frStops).cast("long").as("fr_hits"),
        TextAnalysis.langIdExpr(t).as("lang_pred"))
    },
    raw"""
      WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                    FROM documents),
      h AS (SELECT doc_id,
              ${hitsSql(TextAnalysis.enStops)} AS en_hits,
              ${hitsSql(TextAnalysis.esStops)} AS es_hits,
              ${hitsSql(TextAnalysis.deStops)} AS de_hits,
              ${hitsSql(TextAnalysis.frStops)} AS fr_hits
            FROM toks)
      SELECT doc_id, en_hits, es_hits, de_hits, fr_hits,
        CASE WHEN greatest(en_hits, es_hits, de_hits, fr_hits) = 0 THEN 'und'
             WHEN en_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'en'
             WHEN es_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'es'
             WHEN de_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'de'
             WHEN fr_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'fr'
             ELSE 'und' END AS lang_pred
      FROM h""")

  // ---------------------------------------------------------------- quality
  private val quality = Q("q_text_quality",
    (s, dir) => {
      val t = TextAnalysis.tokens
      Tables.load(s, dir, "documents").select(
        col("doc_id"), col("n_chars"),
        size(t).cast("long").as("token_count"),
        size(array_distinct(t)).cast("long").as("distinct_tokens"),
        TextAnalysis.punctCount.cast("long").as("punct_chars"),
        TextAnalysis.stopHits(t, TextAnalysis.enStops).cast("long").as("stop_hits"))
        .withColumn("chars_per_token", col("n_chars") / col("token_count"))
        .withColumn("distinct_ratio", col("distinct_tokens") / col("token_count"))
        .withColumn("stop_ratio", col("stop_hits") / col("token_count"))
        .withColumn("quality_score",
          lit(0.6) * col("distinct_ratio") +
            lit(0.4) * (lit(1.0) - col("stop_ratio")))
    },
    raw"""
      WITH toks AS (SELECT doc_id, n_chars,
                      string_split_regex(lower(trim(text)), '\s+') AS t,
                      CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS BIGINT) AS punct_chars
                    FROM documents),
      m AS (SELECT doc_id, n_chars,
              CAST(len(t) AS BIGINT) AS token_count,
              CAST(len(list_distinct(t)) AS BIGINT) AS distinct_tokens,
              punct_chars,
              ${hitsSql(TextAnalysis.enStops)} AS stop_hits
            FROM toks)
      SELECT doc_id, n_chars, token_count, distinct_tokens, punct_chars, stop_hits,
        n_chars / token_count AS chars_per_token,
        distinct_tokens / token_count AS distinct_ratio,
        stop_hits / token_count AS stop_ratio,
        0.6 * (distinct_tokens / token_count) +
          0.4 * (1.0 - stop_hits / token_count) AS quality_score
      FROM m""")

  // ---------------------------------------------------------------- dedup: exact
  /** Rolling-hash fingerprints: both the order-insensitive md5
    * bag-of-words key and the order-sensitive polynomial rolling hash. */
  private val fingerprints = Q("q_text_fingerprints",
    (s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint.as("bow_fp"),
        TextAnalysis.rollingHash.as("rolling_fp")),
    raw"""
      SELECT doc_id,
        md5(list_aggr(list_sort(list_distinct(
          string_split_regex(lower(trim(text)), '\s+'))), 'string_agg', ' ')) AS bow_fp,
        list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split_regex(lower(trim(text)), '\s+'),
              x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 2147483647)),
          (acc, x) -> (acc * 31 + x) % 2147483647) AS rolling_fp
      FROM documents""")

  private val exact = Q("q_dedup_exact",
    (s, dir) => Dedup.exactDedup(Tables.load(s, dir, "documents")),
    raw"""
      WITH fp AS (SELECT doc_id,
          md5(list_aggr(list_sort(list_distinct(
            string_split_regex(lower(trim(text)), '\s+'))), 'string_agg', ' ')) AS fp
        FROM documents)
      SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dupes
      FROM fp GROUP BY fp""")

  // ---------------------------------------------------------------- dedup: jaccard
  private val jaccard = Q("q_dedup_ngram_jaccard",
    (s, dir) => Dedup.jaccardPairs(
      Dedup.shingles(Tables.load(s, dir, "documents")), dfCap = 10, threshold = 0.5),
    shCte + raw""",
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
      pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_common,
                  max(CASE WHEN dfreq.df <= 10 THEN 1 ELSE 0 END) AS has_rare
                FROM sh a JOIN sh b USING (s) JOIN dfreq USING (s)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT da, db, n_common,
        CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
      FROM pairs JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
      WHERE has_rare = 1
        AND CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5""")

  // ---------------------------------------------------------------- dedup: minhash
  private val sigColsSql = Dedup.AS.indices.map(i =>
    s"min((${Dedup.AS(i)} * xm + ${Dedup.BS(i)}) % ${Dedup.P}) AS s$i").mkString(",\n        ")

  private val minhashSigCte = shCte + raw""",
      hx AS (SELECT doc_id, $xmSql AS xm FROM sh),
      sig AS (SELECT doc_id,
        $sigColsSql
      FROM hx GROUP BY doc_id)"""

  private val minhash = Q("q_dedup_minhash_sigs",
    (s, dir) => Dedup.minhashSignatures(
      Dedup.shingles(Tables.load(s, dir, "documents"))),
    minhashSigCte + "\n      SELECT * FROM sig")

  private val bandValSql = (0 until Dedup.K / 2).map(b =>
    s"WHEN $b THEN CAST(s${2 * b} AS VARCHAR) || '_' || CAST(s${2 * b + 1} AS VARCHAR)")
    .mkString("CASE b ", " ", " END")

  /** Shared with CurationQueries: the full chain down to deduped LSH
    * candidate pairs (da < db), for oracles that build ON TOP of the
    * candidate set (connected components, canonical keepers). */
  private[queries] val lshPairsCte = minhashSigCte + raw""",
      bands AS (SELECT doc_id, b AS band_idx, $bandValSql AS band_val
                FROM sig, unnest(range(0, ${Dedup.K / 2})) AS u(b)),
      pairs AS (SELECT a.doc_id AS da, b.doc_id AS db
                FROM bands a JOIN bands b
                  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id
                GROUP BY 1, 2)"""

  /** Incremental NEAR-dup dedup against a stored corpus band index
    * (the LSH twin of `q_dedup_incremental`'s exact-fingerprint form):
    * the corpus — doc_id % 4 ≠ 0 here — is never re-shingled; only its
    * 8-rows/doc index joins the new batch's bands. The oracle mirrors
    * the min-id blame rule clause for clause: a corpus collision
    * always blames, a same-batch collision blames only a smaller id;
    * shingle-less new docs keep trivially. */
  private val incrementalLsh = Q("q_dedup_incremental_lsh",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val corpusIdx = Dedup.bandIndex(Dedup.minhashSignatures(
        Dedup.shingles(docs.where(col("doc_id") % 4 =!= 0))))
      Dedup.incrementalLshDedup(docs.where(col("doc_id") % 4 === 0),
        corpusIdx)
    },
    minhashSigCte + raw""",
      bands AS (SELECT doc_id, b AS band_idx, $bandValSql AS band_val
                FROM sig, unnest(range(0, ${Dedup.K / 2})) AS u(b)),
      nb AS (SELECT * FROM bands WHERE doc_id % 4 = 0),
      ob AS (SELECT *, (doc_id % 4 <> 0) AS corp FROM bands),
      blame AS (SELECT n.doc_id, min(o.doc_id) AS dup_of
                FROM nb n JOIN ob o
                  ON n.band_idx = o.band_idx AND n.band_val = o.band_val
                 AND (o.corp OR o.doc_id < n.doc_id)
                GROUP BY 1)
      SELECT d.doc_id, (b.dup_of IS NULL) AS keep, b.dup_of
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
      LEFT JOIN blame b USING (doc_id)""")

  private val lsh = Q("q_dedup_minhash_lsh",
    (s, dir) => Dedup.lshCandidates(Dedup.minhashSignatures(
      Dedup.shingles(Tables.load(s, dir, "documents")))),
    minhashSigCte + raw""",
      bands AS (SELECT doc_id, b AS band_idx, $bandValSql AS band_val
                FROM sig, unnest(range(0, ${Dedup.K / 2})) AS u(b))
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_bands
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2""")

  // ---------------------------------------------------------------- dedup: simhash
  private val tokCte = raw"""
      WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                    FROM documents),
      tk AS (SELECT DISTINCT doc_id, tok FROM toks, unnest(t) AS u(tok)),
      h AS (SELECT doc_id,
              CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
            FROM tk)"""

  private val voteColsSql = (0 until 60).map(j =>
    s"sum(CASE WHEN (h >> $j) % 2 = 1 THEN 1 ELSE -1 END) AS v$j").mkString(",\n        ")
  private val bitSumSql = (0 until 60).map(j =>
    s"(CASE WHEN v$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)").mkString(" + ")

  private val simhashCte = tokCte + raw""",
      v AS (SELECT doc_id,
        $voteColsSql
      FROM h GROUP BY doc_id),
      sim AS (SELECT doc_id, $bitSumSql AS simhash FROM v)"""

  private val simhash = Q("q_dedup_simhash",
    (s, dir) => Dedup.simhash(Tables.load(s, dir, "documents")),
    simhashCte + "\n      SELECT * FROM sim")

  /** Banded radius-6 pairs as a reusable CTE (the unbounded form, the
    * bounded top-m form, and the top-m recall gate all build on it). */
  private val simhashPairsCte = simhashCte + raw""",
      sp AS (SELECT doc_id, simhash, o AS band_idx,
               (((simhash >> o) |
                 ((simhash & ((CAST(1 AS BIGINT) << o) - 1)) << (60 - o)))
                % 32768) AS band_val
             FROM sim, unnest([0, 15, 30, 45, 7, 22, 37, 52]) AS u(o)),
      prs AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                  AS hamming
              FROM sp a JOIN sp b
                ON a.band_idx = b.band_idx AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 6)"""

  private val simhashPairs = Q("q_dedup_simhash_pairs",
    (s, dir) => Dedup.simhashPairs(
      Dedup.simhash(Tables.load(s, dir, "documents")), maxHamming = 6),
    simhashPairsCte + "\n      SELECT da, db, hamming FROM prs")

  /** Per-doc top-m view of the banded pairs (symmetrized, ranked by
    * (hamming, neighbor)) shared by the bounded query and its gate. */
  private val simhashTopmCte = simhashPairsCte + raw""",
      sym AS (SELECT da AS doc_id, db AS nb, hamming FROM prs
              UNION ALL
              SELECT db AS doc_id, da AS nb, hamming FROM prs),
      rk AS (SELECT doc_id, nb, hamming,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY hamming, nb) AS BIGINT) AS nb_rank
             FROM sym)"""

  /** Bounded-emission near-dup candidates: per-document 5 nearest by
    * Hamming distance among the banded radius-6 candidates — the 100 TB
    * consumer form (output capped at n_docs × m, vs the unbounded pair
    * join whose output grows with dup density; measured exponent 1.05
    * over the first decade). `q_dedup_topm_recall` gates its recall
    * against the brute-force truth. */
  private val simhashTopM = Q("q_dedup_simhash_topm",
    (s, dir) => Dedup.simhashTopM(
      Dedup.simhash(Tables.load(s, dir, "documents")),
      maxHamming = 6, m = 5),
    simhashTopmCte + raw"""
      SELECT doc_id, nb, hamming, nb_rank FROM rk WHERE nb_rank <= 5""")

  /** Top-m quality gate — "measure, don't guess" for the bounded
    * emission: brute-force ALL radius-6 neighbors for a deterministic
    * 5 % document sample, take the same per-doc top-5, and measure how
    * many of those truth pairs the banded top-m kept. The banded side's
    * per-doc ranks don't depend on other documents, so gating on the
    * sample is exact for sampled docs. Floor pinned at 0.9 — measured
    * 0.968 / 0.944 / 0.979 at sf0.001 / 0.01 / 0.1: Hamming ≤ 3
    * neighbors are pigeonhole-complete under EACH of the two rotated
    * 4-window covers of the 60-bit fingerprint, the 4..6 tail is
    * probabilistic over 8 windows, and recall RISES with corpus density
    * (denser corpora fill the top-5 from the guaranteed ≤ 3 zone). The
    * oracle pins the boolean to literal TRUE
    * so a banding-quality collapse hash-mismatches instead of both
    * engines agreeing on false (vacuously true only when the sample has
    * zero truth pairs, which both engines compute identically). */
  private val topmRecall = Q("q_dedup_topm_recall",
    (s, dir) => {
      val sim = graft.CacheScope.persist(
        Dedup.simhash(Tables.load(s, dir, "documents")))
      val banded = graft.CacheScope.persist(
        Dedup.simhashTopM(sim, maxHamming = 6, m = 5)
          .filter(col("doc_id") % 100 < 5)
          .select(col("doc_id"), col("nb")))
      val truthAll = sim.alias("a").filter(col("doc_id") % 100 < 5)
        .join(broadcast(sim.alias("b")),
          col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("nb"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
            .cast("long").as("hamming"))
        .filter(col("hamming") <= 6)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("hamming"), col("nb"))
      val truth = graft.CacheScope.persist(
        truthAll.withColumn("r", row_number().over(w))
          .filter(col("r") <= 5).select(col("doc_id"), col("nb")))
      val hits = truth.join(banded, Seq("doc_id", "nb"), "left_semi")
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(banded.agg(count(lit(1)).as("n_banded")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_true"), 6))
        // vacuously true when the sample holds no truth pairs at all (a
        // tiny corpus may genuinely have none within the radius); any
        // non-empty truth set still gates at the 0.9 floor
        .withColumn("recall_ok", col("n_true") === 0 ||
          col("n_hit").cast("double") / col("n_true") >= 0.9)
    },
    simhashTopmCte + raw""",
      btop AS (SELECT doc_id, nb FROM rk
               WHERE nb_rank <= 5 AND doc_id % 100 < 5),
      truth AS (SELECT a.doc_id, b.doc_id AS nb,
                  CAST(row_number() OVER (PARTITION BY a.doc_id
                    ORDER BY bit_count(xor(a.simhash, b.simhash)),
                             b.doc_id) AS BIGINT) AS r
                FROM sim a JOIN sim b ON b.doc_id <> a.doc_id
                WHERE a.doc_id % 100 < 5
                  AND bit_count(xor(a.simhash, b.simhash)) <= 6),
      ttop AS (SELECT doc_id, nb FROM truth WHERE r <= 5),
      hitc AS (SELECT count(*) AS n_hit
               FROM ttop JOIN btop USING (doc_id, nb))
      SELECT (SELECT count(*) FROM ttop) AS n_true,
             (SELECT count(*) FROM btop) AS n_banded,
             hitc.n_hit,
             round(CAST(hitc.n_hit AS DOUBLE) /
               (SELECT count(*) FROM ttop), 6) AS recall,
             true AS recall_ok
      FROM hitc""")

  /** Candidate verification by exact edit distance: LSH narrows the
    * pair space, levenshtein confirms — the standard two-phase near-dup
    * check for short documents. Cost is O(len²) per CANDIDATE (never
    * per cross-pair), so the frequency-capped generator bounds total
    * work. Normalized ratio = dist / max(len) in exact integer-to-double
    * division, so both engines agree bit-for-bit. */
  private val editVerify = Q("q_dedup_edit_verify",
    (s, dir) => {
      val docs = graft.CacheScope.persist(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")))
      val cand = Dedup.lshCandidates(Dedup.minhashSignatures(
        Dedup.shingles(docs))).select(col("da"), col("db"))
      cand
        .join(docs.select(col("doc_id").as("da"), col("text").as("ta")), "da")
        .join(docs.select(col("doc_id").as("db"), col("text").as("tb")), "db")
        .select(col("da"), col("db"),
          levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
          (levenshtein(col("ta"), col("tb")).cast("long") /
            greatest(length(col("ta")), length(col("tb"))).cast("long"))
            .as("edit_ratio"))
    },
    lshPairsCte + raw"""
      SELECT da, db,
        CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
        CAST(levenshtein(a.text, b.text) AS BIGINT)
          / CAST(greatest(len(a.text), len(b.text)) AS BIGINT) AS edit_ratio
      FROM pairs JOIN documents a ON pairs.da = a.doc_id
                 JOIN documents b ON pairs.db = b.doc_id""")

  /** LSH quality diagnostic: recall of the banding candidates against
    * ground-truth Jaccard ≥ 0.5 pairs — "measure, don't guess" for the
    * banding parameters. One row: true pairs, candidates, hits, recall. */
  private val lshRecall = Q("q_dedup_lsh_recall",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val sh = Dedup.shingles(docs)
      val truth = Dedup.jaccardPairs(sh, dfCap = Int.MaxValue, threshold = 0.5)
        .select(col("da"), col("db"))
      val cand = Dedup.lshCandidates(Dedup.minhashSignatures(sh))
        .select(col("da"), col("db"))
      val t = graft.CacheScope.persist(truth)
      val c = graft.CacheScope.persist(cand)
      val hits = t.join(c, Seq("da", "db"), "left_semi")
      t.agg(count(lit(1)).as("n_true")).crossJoin(
          c.agg(count(lit(1)).as("n_candidates")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .withColumn("recall", col("n_hit") / col("n_true"))
        // floor gate: measured 1.0 at sf0.001/0.01/0.1; the oracle pins
        // the boolean to literal TRUE so a banding-quality collapse
        // hash-mismatches instead of both engines agreeing on false
        .withColumn("recall_ok", col("n_hit") / col("n_true") >= 0.9)
    },
    minhashSigCte + raw""",
      bands AS (SELECT doc_id, b AS band_idx, $bandValSql AS band_val
                FROM sig, unnest(range(0, ${Dedup.K / 2})) AS u(b)),
      cand AS (SELECT a.doc_id AS da, b.doc_id AS db
               FROM bands a JOIN bands b
                 ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      ovl AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_common
              FROM sh a JOIN sh b USING (s)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      truth AS (SELECT da, db FROM ovl
                JOIN sizes sa ON da = sa.doc_id
                JOIN sizes sb ON db = sb.doc_id
                WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5),
      hit AS (SELECT t.da, t.db FROM truth t
              WHERE EXISTS (SELECT 1 FROM cand c
                            WHERE c.da = t.da AND c.db = t.db))
      SELECT (SELECT count(*) FROM truth) AS n_true,
             (SELECT count(*) FROM cand) AS n_candidates,
             (SELECT count(*) FROM hit) AS n_hit,
             CAST((SELECT count(*) FROM hit) AS BIGINT)
               / CAST((SELECT count(*) FROM truth) AS BIGINT) AS recall,
             true AS recall_ok""")

  /** Corpus vocabulary statistics: document frequency + total term
    * frequency per token — the substrate for TF-IDF filtering and
    * stopword discovery in a training-data pipeline. One explode + one
    * groupBy (shuffle on token). */
  private val vocab = Q("q_text_vocab_stats",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens).as("tok"))
        .groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("tf")),
    raw"""
      WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                 FROM documents)
      SELECT tok, count(DISTINCT doc_id) AS df, count(*) AS tf
      FROM t GROUP BY tok""")

  private val lmScore = Q("q_text_lm_score",
    (s, dir) => graft.text.TextAnalysis.lmScore(
      Tables.load(s, dir, "documents")),
    raw"""
      WITH t AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                 FROM documents),
      freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY tok),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
      sc AS (SELECT doc_id, CAST(round(-ln(cnt / total), 6) AS DECIMAL(18,6)) AS s
             FROM t JOIN freq USING (tok), tot)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(s) AS DOUBLE) / count(*) AS xent
      FROM sc GROUP BY doc_id""")

  /** Feature-hashed bag-of-words vectors (`TextAnalysis.hashingTf`,
    * dim=64): the dense array is built by the engine; the gate checks
    * its scalar audit — nonzeros, token total, position-weighted
    * checksum, argmax bucket — each derivable independently from the
    * (doc, bucket) counts in the oracle. */
  private val hashTf = Q("q_text_hashing_tf",
    (s, dir) => TextAnalysis.hashingTf(
        Tables.load(s, dir, "documents"), dim = 64)
      .select(col("doc_id"),
        size(filter(col("tf"), x => x > 0)).cast("long").as("nnz"),
        aggregate(col("tf"), lit(0L), (a, x) => a + x).as("l1_total"),
        aggregate(zip_with(col("tf"), sequence(lit(1L), lit(64L)),
          (v, i) => v * i), lit(0L), (a, x) => a + x).as("checksum"),
        array_max(col("tf")).as("max_count"),
        (array_position(col("tf"), array_max(col("tf"))) - 1)
          .as("top_bucket")),
    raw"""
      WITH toks AS (SELECT doc_id,
              string_split_regex(lower(trim(text)), '\s+') AS t
            FROM documents),
      tk AS (SELECT doc_id, tok FROM toks, unnest(t) AS u(tok)),
      bc AS (SELECT doc_id,
               CAST(CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
                 % 64 AS INT) AS b,
               count(*) AS c
             FROM tk GROUP BY 1, 2),
      agg AS (SELECT doc_id, count(*) AS nnz,
                CAST(sum(c) AS BIGINT) AS l1_total,
                CAST(sum(c * (b + 1)) AS BIGINT) AS checksum,
                max(c) AS max_count
              FROM bc GROUP BY doc_id),
      top AS (SELECT bc.doc_id, CAST(min(bc.b) AS BIGINT) AS top_bucket
              FROM bc JOIN agg ON bc.doc_id = agg.doc_id
                AND bc.c = agg.max_count
              GROUP BY bc.doc_id)
      SELECT agg.doc_id, nnz, l1_total, checksum, max_count, top_bucket
      FROM agg JOIN top USING (doc_id)""")

  /** Boilerplate fraction per document: share of distinct 3-shingles
    * whose corpus doc-frequency is ≥ 3, plus the keep decision at the
    * 0.25 cut (thresholds sized to the fixture's df distribution; at
    * corpus scale dfCap rises with N). */
  private val boilerplate = Q("q_text_boilerplate",
    (s, dir) => graft.text.Curation.boilerplate(
      Tables.load(s, dir, "documents"), dfCap = 3, keepBelow = 0.25),
    shCte + raw""",
      dfreq AS (SELECT s, count(*) AS doc_freq FROM sh GROUP BY s),
      tot AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
      hits AS (SELECT doc_id, count(*) AS hits
               FROM sh JOIN dfreq USING (s)
               WHERE doc_freq >= 3 GROUP BY doc_id)
      SELECT t.doc_id, n_grams,
        coalesce(hits, 0) AS n_boiler,
        round(coalesce(hits, 0) / n_grams, 6) AS boiler_frac,
        coalesce(hits, 0) / n_grams < 0.25 AS keep
      FROM tot t LEFT JOIN hits USING (doc_id)""")

  /** Corpus length histogram: docs bucketed by token count (width-10
    * bins, top bin open). One narrow projection + one tiny groupBy —
    * the shape survives any corpus size. */
  private val tokenHistogram = Q("q_token_histogram",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(size(TextAnalysis.tokens).cast("long").as("n_tok"))
        .withColumn("bucket",
          least(floor(col("n_tok") / 10), lit(19L)).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_tok")).as("min_tok"),
          max(col("n_tok")).as("max_tok")),
    raw"""
      WITH t AS (SELECT CAST(len(string_split_regex(lower(trim(text)),
          '\s+')) AS BIGINT) AS n_tok FROM documents)
      SELECT least(CAST(floor(n_tok / 10) AS BIGINT), 19) AS bucket,
        count(*) AS n_docs, min(n_tok) AS min_tok, max(n_tok) AS max_tok
      FROM t GROUP BY 1""")

  /** Document-level PMI of token pairs: how much more often two tokens
    * co-occur in a document than independence predicts — the collocation
    * / phrase-mining primitive. Presence-based (distinct tokens per
    * doc); pairs with co-doc-frequency < 5 are cut, which is also what
    * bounds the pair space at scale: the self-join is on doc_id with
    * per-doc token counts bounded by doc length, and the df tables are
    * vocabulary-sized (broadcast). ln rounds to 6 dp per the
    * float-output rule. */
  private val pmi = Q("q_text_pmi",
    (s, dir) => TextAnalysis.pmi(Tables.load(s, dir, "documents")),
    raw"""
      WITH toks AS (SELECT DISTINCT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents),
      nd AS (SELECT count(*) AS n_docs FROM documents),
      dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
      p AS (SELECT a.tok AS ta, b.tok AS tb, count(*) AS df_ab
            FROM toks a JOIN toks b
              ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT ta, tb, fa.df AS df_a, fb.df AS df_b, df_ab,
        round(ln((df_ab * n_docs) / (fa.df * fb.df)), 6) AS pmi
      FROM p JOIN dfreq fa ON fa.tok = ta
             JOIN dfreq fb ON fb.tok = tb
             CROSS JOIN nd""")

  /** The vocabulary-BOUNDED PMI mode (verdict r11 #6): uncapped PMI's
    * distinct-pair aggregation state grows ~V² while V grows with the
    * corpus (Heaps' law) — the one superlinear term left in the
    * text-stat family (Zipf-decade min-protocol exponent 1.02, round
    * 11). The cap keeps whole df LEVELS from the top until the kept
    * vocabulary would exceed V=16 — computed on the df histogram, no
    * global token rank — so distinct pair keys stay ≤ C(V,2) at any
    * corpus size. V=16 < the fixture's 31-token vocabulary, so the cap
    * BITES at every test sf and the oracle (which mirrors the histogram
    * walk clause by clause) hash-checks the capped semantics, not the
    * uncapped ideal.
    *
    * Round 13 added the df-BAND prefilter (verdict r12 #4): near-
    * ubiquitous tokens carry ≈0 PMI by definition but are present in
    * every doc's pair explode — the residual 0.81/decade Zipf mass
    * after the topV cap. `maxDfFrac` drops that band BEFORE the
    * histogram walk and the pairing; the oracle's dfreq CTE applies
    * the identical band, so the hash pins band + cap together.
    * df_a/df_b still report true corpus df for every kept token.
    *
    * Round 14 re-parameterizes 0.5 → 0.8 (verdict r13 #1a): the
    * 31-token fixture vocabulary sits at df/n_docs ≈ 0.75–0.83, so
    * 0.5 banded out all but one token and the gate passed VACUOUSLY
    * (0 vs 0 rows). At 0.8 the band still bites at the gated sfs
    * (drops 5/31 tokens at sf0.001, 1/31 at sf0.01 — measured) while
    * the banded+capped pair set stays non-empty (120 rows at every
    * test sf), so the hash now pins the band+cap INTERPLAY, not an
    * empty set. Scale-path bands stay caller-chosen (`maxDfFrac`; the
    * Zipf-corpus sweep is committed as BENCH_PMI_CAPPED_ZIPF.json). */
  private val pmiCapped = Q("q_text_pmi_capped",
    (s, dir) => TextAnalysis.pmi(Tables.load(s, dir, "documents"),
      topV = Some(16L), maxDfFrac = Some(0.8)),
    raw"""
      WITH toks0 AS (SELECT DISTINCT doc_id,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents),
      nd AS (SELECT count(*) AS n_docs FROM documents),
      dfreq0 AS (SELECT tok, count(*) AS df FROM toks0 GROUP BY tok),
      dfreq AS (SELECT tok, df FROM dfreq0, nd
                WHERE CAST(df AS DOUBLE) <= CAST(n_docs AS DOUBLE) * 0.8),
      hist AS (SELECT df, count(*) AS c FROM dfreq GROUP BY df),
      cum AS (SELECT df, sum(c) OVER (ORDER BY df DESC) AS cc FROM hist),
      dstar AS (SELECT coalesce(
                  (SELECT min(df) FROM cum WHERE cc <= 16),
                  (SELECT max(df) FROM dfreq)) AS d),
      toks AS (SELECT doc_id, tok FROM toks0 JOIN dfreq USING (tok), dstar
               WHERE df >= dstar.d),
      p AS (SELECT a.tok AS ta, b.tok AS tb, count(*) AS df_ab
            FROM toks a JOIN toks b
              ON a.doc_id = b.doc_id AND a.tok < b.tok
            GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT ta, tb, fa.df AS df_a, fb.df AS df_b, df_ab,
        round(ln((df_ab * n_docs) / (fa.df * fb.df)), 6) AS pmi
      FROM p JOIN dfreq fa ON fa.tok = ta
             JOIN dfreq fb ON fb.tok = tb
             CROSS JOIN nd""")

  /** Exact Jaccard-≥-0.5 pairs via prefix filtering — no df cap, no
    * all-pairs join; the brute-force oracle proves completeness. */
  private val prefixJaccard = Q("q_dedup_prefix_jaccard",
    (s, dir) => Dedup.prefixJaccardPairs(
      Dedup.shingles(Tables.load(s, dir, "documents")), threshold = 0.5),
    shCte + raw""",
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_common
                FROM sh a JOIN sh b USING (s)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT da, db, n_common,
        CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
      FROM pairs
      JOIN sizes sa ON da = sa.doc_id
      JOIN sizes sb ON db = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5""")

  /** Shared oracle CTEs for the CAPPED prefix-Jaccard pass: the exact
    * prefix postings, their own df histogram, the largest prefix-df
    * whose cumulative pair mass Σ C(dfp,2) stays ≤ 16 × n_docs
    * (floor 2), the filtered prefix index, and the length-ratio-pruned
    * candidates verified exactly. Mirrors
    * `Dedup.prefixJaccardPairs(budget = Some(16))` clause by clause. */
  private val cappedPrefixCte = shCte + raw""",
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
      prefall AS (SELECT sh.doc_id, sh.s
                  FROM sh JOIN dfreq USING (s) JOIN sizes USING (doc_id)
                  QUALIFY row_number() OVER (PARTITION BY sh.doc_id
                      ORDER BY df, sh.s) <= n - ceil(0.5 * n) + 1),
      pdf AS (SELECT s, count(*) AS dfp FROM prefall GROUP BY s),
      phist AS (SELECT dfp, count(*) AS c FROM pdf GROUP BY dfp),
      pcum AS (SELECT dfp,
                 sum(c * dfp * (dfp - 1) / 2) OVER (ORDER BY dfp) AS cm
               FROM phist),
      nd2 AS (SELECT count(DISTINCT doc_id) AS ndocs FROM sh),
      pcap AS (SELECT greatest(2, coalesce(
                 (SELECT max(dfp) FROM pcum, nd2 WHERE cm <= 16.0 * ndocs),
                 2)) AS cap),
      pref AS (SELECT p.doc_id, p.s FROM prefall p JOIN pdf USING (s), pcap
               WHERE dfp <= pcap.cap),
      ccand AS (SELECT da, db, sa.n AS na, sb.n AS nb
                FROM (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                      FROM pref a JOIN pref b USING (s)
                      WHERE a.doc_id < b.doc_id) c
                JOIN sizes sa ON da = sa.doc_id
                JOIN sizes sb ON db = sb.doc_id
                WHERE least(sa.n, sb.n) >= ceil(0.5 * greatest(sa.n, sb.n))),
      cppairs AS (SELECT da, db, n_common,
                    CAST(n_common AS DOUBLE) / (na + nb - n_common)
                      AS jaccard
                  FROM (SELECT c.da, c.db, c.na, c.nb, count(*) AS n_common
                        FROM ccand c JOIN sh a ON a.doc_id = c.da
                        JOIN sh b ON b.doc_id = c.db AND b.s = a.s
                        GROUP BY 1, 2, 3, 4)
                  WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common)
                    >= 0.5)"""

  /** The 100 TB operating mode of the prefix-Jaccard pair finder: the
    * prefix POSTINGS are df-capped so cumulative candidate-pair mass
    * stays ≤ 16 × n_docs — candidate cost LINEAR in corpus size where
    * the exact filter's posting mass grows quadratically on
    * vocabulary-saturating corpora (BENCH_SCALING_sf100x_capped.json is
    * this mode's measured third decade). The oracle mirrors the cap
    * computation clause by clause, so the capped semantics themselves —
    * not just the uncapped ideal — are hash-checked; the cap genuinely
    * bites at sf0.1 (cap 6 < max prefix-df 10). */
  private val prefixCapped = Q("q_dedup_prefix_capped",
    (s, dir) => Dedup.prefixJaccardPairs(
      Dedup.shingles(Tables.load(s, dir, "documents")), threshold = 0.5,
      pairBudgetPerDoc = Some(16L)),
    cappedPrefixCte + raw"""
      SELECT da, db, n_common, jaccard FROM cppairs""")

  /** Recall of the capped prefix pass against the guaranteed-complete
    * exact twin, fully mirror-computed: the oracle rebuilds BOTH pair
    * sets and the recall arithmetic in SQL (no asserted literal), so
    * engine and oracle must agree on exactly which pairs the cap keeps
    * and loses. 1.0 at sf0.01 (cap above max dfp); at sf0.1 the cap
    * bites and the measured recall itself is the compared value. */
  private val prefixCappedRecall = Q("q_dedup_prefix_capped_recall",
    (s, dir) => {
      val sh = graft.CacheScope.persist(
        Dedup.shingles(Tables.load(s, dir, "documents")))
      val exact = graft.CacheScope.persist(
        Dedup.prefixJaccardPairs(sh, 0.5).select(col("da"), col("db")))
      val capped = graft.CacheScope.persist(
        Dedup.prefixJaccardPairs(sh, 0.5, Some(16L))
          .select(col("da"), col("db")))
      val hits = exact.join(capped, Seq("da", "db"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(capped.agg(count(lit(1)).as("n_capped")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        // zero-exact-pairs guard: Spark yields NaN on 0/0 where DuckDB
        // yields NULL — a corpus with no exact pairs loses nothing, so
        // recall is 1 by convention on both engines
        .withColumn("recall",
          round(when(col("n_exact") > 0,
            col("n_hit").cast("double") / col("n_exact"))
            .otherwise(lit(1.0)), 6))
    },
    cappedPrefixCte + raw""",
      epairs AS (SELECT p.da, p.db
                 FROM (SELECT a.doc_id AS da, b.doc_id AS db,
                         count(*) AS n_common
                       FROM sh a JOIN sh b USING (s)
                       WHERE a.doc_id < b.doc_id GROUP BY 1, 2) p
                 JOIN sizes sa ON p.da = sa.doc_id
                 JOIN sizes sb ON p.db = sb.doc_id
                 WHERE CAST(p.n_common AS DOUBLE) /
                   (sa.n + sb.n - p.n_common) >= 0.5),
      hitp AS (SELECT count(*) AS n_hit
               FROM epairs JOIN cppairs USING (da, db))
      SELECT (SELECT count(*) FROM epairs) AS n_exact,
             (SELECT count(*) FROM cppairs) AS n_capped,
             hitp.n_hit,
             round(CASE WHEN (SELECT count(*) FROM epairs) > 0
               THEN CAST(hitp.n_hit AS DOUBLE) /
                 (SELECT count(*) FROM epairs)
               ELSE 1.0 END, 6) AS recall
      FROM hitp""")

  /** Corpus drift monitor: add-1-smoothed unigram KL divergence between
    * two corpus slices (sources src0–src9 vs src10–src19) — the
    * distribution-shift alarm a continuously-ingesting pipeline runs
    * between yesterday's corpus and today's. Per-token ln terms round
    * to 6 dp and sum as DECIMAL(18,6) (the lmScore rule), so the
    * reduction is order-exact. Dataflow: one token count per slice
    * (map-side combined), a full-outer vocab join, broadcast totals —
    * the fact never shuffles twice. */
  private val corpusDrift = Q("q_corpus_drift",
    (s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .withColumn("grp",
          when(regexp_extract(col("source"), "src([0-9]+)", 1)
            .cast("int") < 10, "a").otherwise("b"))
        .select(col("grp"), explode(TextAnalysis.tokens).as("tok"))
      val counts = graft.CacheScope.persist(
        toks.groupBy(col("tok")).agg(
          sum(when(col("grp") === "a", 1L).otherwise(0L)).as("ca"),
          sum(when(col("grp") === "b", 1L).otherwise(0L)).as("cb")))
      val totals = counts.agg(sum(col("ca")).as("ta"),
        sum(col("cb")).as("tb"), count(lit(1)).as("v"))
      val p = (col("ca") + 1).cast("double") / (col("ta") + col("v"))
      val q = (col("cb") + 1).cast("double") / (col("tb") + col("v"))
      counts.crossJoin(broadcast(totals))
        .select(col("v"),
          round(p * log(p / q), 6).cast("decimal(18,6)").as("t_ab"),
          round(q * log(q / p), 6).cast("decimal(18,6)").as("t_ba"))
        .groupBy(col("v"))
        .agg(sum(col("t_ab")).cast("double").as("kl_ab"),
          sum(col("t_ba")).cast("double").as("kl_ba"))
    },
    raw"""
      WITH toks AS (SELECT
          CASE WHEN CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INT)
            < 10 THEN 'a' ELSE 'b' END AS grp,
          unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents),
      counts AS (SELECT tok,
          count(*) FILTER (grp = 'a') AS ca,
          count(*) FILTER (grp = 'b') AS cb
        FROM toks GROUP BY tok),
      totals AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
          CAST(sum(cb) AS BIGINT) AS tb, count(*) AS v FROM counts),
      terms AS (SELECT v,
          CAST(round(((ca + 1) / CAST(ta + v AS DOUBLE)) *
            ln(((ca + 1) / CAST(ta + v AS DOUBLE)) /
               ((cb + 1) / CAST(tb + v AS DOUBLE))), 6)
            AS DECIMAL(18,6)) AS t_ab,
          CAST(round(((cb + 1) / CAST(tb + v AS DOUBLE)) *
            ln(((cb + 1) / CAST(tb + v AS DOUBLE)) /
               ((ca + 1) / CAST(ta + v AS DOUBLE))), 6)
            AS DECIMAL(18,6)) AS t_ba
        FROM counts, totals)
      SELECT v, CAST(sum(t_ab) AS DOUBLE) AS kl_ab,
        CAST(sum(t_ba) AS DOUBLE) AS kl_ba
      FROM terms GROUP BY v""")

  /** Shared oracle CTEs for the adaptive-capped containment candidate
    * pass: cap = max(floor 10, min(df-histogram 0.99 quantile, largest
    * df whose cumulative pair mass Σ C(df,2)·c ≤ 128 × n_docs)) →
    * rare-shingle candidates → exact containment on the full sets. */
  private val cappedContainCte = shCte + raw""",
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
      hist AS (SELECT df, count(*) AS c FROM dfreq GROUP BY df),
      cum AS (SELECT df, sum(c) OVER (ORDER BY df) AS cc,
                sum(c * df * (df - 1) / 2) OVER (ORDER BY df) AS cm,
                sum(c) OVER () AS nsh FROM hist),
      nd AS (SELECT count(DISTINCT doc_id) AS ndocs FROM sh),
      cap AS (SELECT greatest(10, least(
                (SELECT min(df) FROM cum WHERE cc >= ceil(0.99 * nsh)),
                coalesce((SELECT max(df) FROM cum, nd
                          WHERE cm <= 128 * ndocs), 10))) AS cap),
      cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
               FROM sh a JOIN sh b USING (s) JOIN dfreq USING (s), cap
               WHERE a.doc_id < b.doc_id AND df <= cap.cap),
      common AS (SELECT c.da, c.db, count(*) AS n_common
                 FROM cand c JOIN sh a ON a.doc_id = c.da
                 JOIN sh b ON b.doc_id = c.db AND b.s = a.s
                 GROUP BY 1, 2),
      cpairs AS (SELECT da, db, n_common,
                   round(CAST(n_common AS DOUBLE) / least(sa.n, sb.n), 6)
                     AS containment
                 FROM common
                 JOIN sizes sa ON da = sa.doc_id
                 JOIN sizes sb ON db = sb.doc_id
                 WHERE CAST(n_common AS DOUBLE) / least(sa.n, sb.n)
                   >= 0.9)"""

  /** Near-subset containment pairs: common/min(na,nb) ≥ 0.9 — the
    * asymmetric complement to Jaccard. A short document quoted inside a
    * long one scores low Jaccard (union dominated by the long doc) but
    * containment ≈ 1; dedup pipelines need both. RECALL-BOUNDED cheap
    * variant with a corpus-ADAPTIVE rarity cap: min(df-histogram 0.99
    * quantile — a fixed cap goes blind as df grows with the corpus —
    * and a candidate-pair-mass budget of 128·n_docs, which keeps the
    * candidate stage linear in corpus size when the vocabulary
    * saturates), floored at 10; `q_dedup_containment_exact` is the
    * guaranteed-complete prefix-filtered form and
    * `q_dedup_containment_recall` pins this variant's recall against
    * it. */
  private val containment = Q("q_dedup_containment",
    (s, dir) => Dedup.containmentPairsCapped(
      Dedup.shingles(Tables.load(s, dir, "documents")), threshold = 0.9),
    cappedContainCte + raw"""
      SELECT da, db, n_common, containment FROM cpairs""")

  /** Adaptive-cap quality gate — the capped variant's recall against
    * the guaranteed-complete prefix-filtered twin, one hashed row
    * (the q_pq_recall pattern). Measured 1.0 at sf0.001/0.01/0.1
    * (caps 10/10/11); floor 0.95, oracle boolean literal TRUE so a
    * recall collapse hash-mismatches. */
  private val containmentRecall = Q("q_dedup_containment_recall",
    (s, dir) => {
      val sh = graft.CacheScope.persist(
        Dedup.shingles(Tables.load(s, dir, "documents")))
      val exact = graft.CacheScope.persist(
        Dedup.prefixContainmentPairs(sh, 0.9).select(col("da"), col("db")))
      val capped = graft.CacheScope.persist(
        Dedup.containmentPairsCapped(sh, 0.9).select(col("da"), col("db")))
      val hits = exact.join(capped, Seq("da", "db"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(capped.agg(count(lit(1)).as("n_capped")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_exact"), 6))
        .withColumn("recall_ok",
          col("n_hit").cast("double") / col("n_exact") >= 0.95)
    },
    cappedContainCte + raw""",
      epairs AS (SELECT e.da, e.db
                 FROM (SELECT a.doc_id AS da, b.doc_id AS db,
                         count(*) AS n_common
                       FROM sh a JOIN sh b USING (s)
                       WHERE a.doc_id < b.doc_id GROUP BY 1, 2) e
                 JOIN sizes sa ON e.da = sa.doc_id
                 JOIN sizes sb ON e.db = sb.doc_id
                 WHERE CAST(e.n_common AS DOUBLE) / least(sa.n, sb.n)
                   >= 0.9),
      hitc AS (SELECT count(*) AS n_hit
               FROM epairs JOIN cpairs USING (da, db))
      SELECT (SELECT count(*) FROM epairs) AS n_exact,
             (SELECT count(*) FROM cpairs) AS n_capped,
             hitc.n_hit,
             round(CAST(hitc.n_hit AS DOUBLE) /
               (SELECT count(*) FROM epairs), 6) AS recall,
             true AS recall_ok
      FROM hitc""")

  /** EXACT containment-≥-0.9 pairs via the asymmetric prefix filter
    * (prefix on the smaller set only, full index on the larger) — the
    * guaranteed-complete replacement for the df-capped candidate pass
    * above. The oracle is the UNCAPPED brute-force all-pairs
    * containment: hash-equality proves no qualifying pair was lost. */
  private val containmentExact = Q("q_dedup_containment_exact",
    (s, dir) => Dedup.prefixContainmentPairs(
      Dedup.shingles(Tables.load(s, dir, "documents")), threshold = 0.9),
    shCte + raw""",
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      common AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_common
                 FROM sh a JOIN sh b USING (s)
                 WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      SELECT da, db, n_common,
        round(CAST(n_common AS DOUBLE) / least(sa.n, sb.n), 6)
          AS containment
      FROM common
      JOIN sizes sa ON da = sa.doc_id
      JOIN sizes sb ON db = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / least(sa.n, sb.n) >= 0.9""")

  /** Sub-document exact dedup signal (the ExactSubstr shape): every
    * 8-token gram occurring in more than one document marks its token
    * positions as duplicated; per doc, the covered count/fraction and
    * a mostly-dup flag. */
  private val substring = Q("q_dedup_substring",
    (s, dir) => Dedup.repeatedSpanProfile(
      Tables.load(s, dir, "documents"), k = 8),
    raw"""
      WITH tk AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents),
      tok AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM tk),
      g AS (SELECT doc_id, i AS pos, array_to_string(t[i+1:i+8], ' ') AS g
            FROM tok, unnest(CASE WHEN len(t) >= 8
                                  THEN range(0, len(t) - 7)
                                  ELSE [] END) AS u(i)),
      d AS (SELECT g FROM g GROUP BY g
            HAVING count(DISTINCT doc_id) > 1),
      cov AS (SELECT DISTINCT doc_id, pos + j AS tp
              FROM g JOIN d USING (g), unnest(range(0, 8)) AS v(j)),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rep
              FROM cov GROUP BY doc_id)
      SELECT tok.doc_id, n_tokens,
        coalesce(n_rep, 0) AS n_rep_tokens,
        CASE WHEN n_tokens > 0
             THEN round(CAST(coalesce(n_rep, 0) AS DOUBLE) / n_tokens, 6)
             ELSE 0.0 END AS rep_frac,
        CAST(coalesce(n_rep, 0) AS DOUBLE) >= 0.5 * n_tokens
          AS mostly_dup
      FROM tok LEFT JOIN agg ON tok.doc_id = agg.doc_id""")

  /** ExactSubstr REMOVAL (the destructive half of `q_dedup_substring`):
    * duplicated 8-grams elect a min-doc_id keeper; every other document
    * cuts the covered positions and the cleaned text is reassembled —
    * removal counts and the clean-text md5 are all hash-checked. */
  private val spanRemove = Q("q_dedup_span_remove",
    (s, dir) => Dedup.removeRepeatedSpans(
        Tables.load(s, dir, "documents"), k = 8)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        col("removed_frac"), md5(col("clean_text")).as("clean_md5")),
    raw"""
      WITH tk AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents),
      tok AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM tk),
      g AS (SELECT doc_id, i AS pos, array_to_string(t[i+1:i+8], ' ') AS g
            FROM tok, unnest(CASE WHEN len(t) >= 8
                                  THEN range(0, len(t) - 7)
                                  ELSE [] END) AS u(i)),
      d AS (SELECT g, min(doc_id) AS keeper FROM g GROUP BY g
            HAVING count(DISTINCT doc_id) > 1),
      cov AS (SELECT DISTINCT g.doc_id, pos + j AS tp
              FROM g JOIN d USING (g), unnest(range(0, 8)) AS v(j)
              WHERE g.doc_id <> d.keeper),
      cut AS (SELECT doc_id, list(tp) AS cut FROM cov GROUP BY doc_id)
      SELECT tok.doc_id, n_tokens,
        CAST(coalesce(len(cut), 0) AS BIGINT) AS n_removed,
        CASE WHEN n_tokens > 0
             THEN round(CAST(coalesce(len(cut), 0) AS DOUBLE) / n_tokens, 6)
             ELSE 0.0 END AS removed_frac,
        md5(coalesce(array_to_string(list_filter(t,
          (x, i) -> NOT list_contains(coalesce(cut, []), i - 1)), ' '), ''))
          AS clean_md5
      FROM tok LEFT JOIN cut ON tok.doc_id = cut.doc_id""")

  /** The BM25 oracle CTE chain (caller prepends `WITH ` and appends a
    * final SELECT over `rk(qid, doc_id, n_terms, s, rn)`), shared with
    * the hybrid-RRF fixture so the lexical leg cannot drift. */
  private[queries] def bm25Ctes(qidPred: String): String = raw"""
      toks AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\s+') AS t
        FROM documents),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             FROM toks, unnest(t) AS u(tok) GROUP BY 1, 2),
      dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
      st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      q AS (SELECT DISTINCT doc_id AS qid, tok
            FROM toks, unnest(t) AS u(tok) WHERE $qidPred),
      dfq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY tok),
      terms AS (SELECT q.qid, tf.doc_id,
          CAST(round(
            ln(CAST(1 AS DOUBLE) +
               (CAST(st.n_docs - d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
               (CAST(d.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
            * ((CAST(tf.tf AS DOUBLE) *
                (CAST(1.2 AS DOUBLE) + CAST(1 AS DOUBLE))) /
               (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                (CAST(1 AS DOUBLE) - CAST(0.75 AS DOUBLE) +
                 CAST(0.75 AS DOUBLE) *
                 (CAST(dl.dl AS DOUBLE) / st.avgdl))))
          , 6) AS DECIMAL(18,6)) AS ts
        FROM tf JOIN q USING (tok)
          JOIN dl ON tf.doc_id = dl.doc_id
          JOIN dfq d ON d.tok = tf.tok
          CROSS JOIN st
        WHERE tf.doc_id <> q.qid),
      sc AS (SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_terms,
               sum(ts) AS s
             FROM terms GROUP BY 1, 2),
      rk AS (SELECT qid, doc_id, n_terms, s,
               row_number() OVER (PARTITION BY qid
                 ORDER BY s DESC, doc_id) AS rn
             FROM sc)"""

  /** BM25 top-5 retrieval for a fixed 20-query workload (the query
    * docs' distinct terms) over the posting-list inverted index —
    * per-term scores follow the lmScore float rule (round 6 dp,
    * DECIMAL sum) so ranking is order-exact in both engines. */
  private val bm25 = Q("q_text_bm25",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val queries = docs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("qid"),
          explode(TextAnalysis.tokens).as("tok"))
        .distinct()
      TextAnalysis.bm25TopK(docs, queries, k = 5)
    },
    "WITH " + bm25Ctes("doc_id < 20") + raw"""
      SELECT qid, doc_id, n_terms, rn AS rank, CAST(s AS DOUBLE) AS score
      FROM rk WHERE rn <= 5""")

  /** BPE-ish tokenizer-fit statistics: the first merge iteration of
    * byte-pair encoding — frequency of adjacent character pairs inside
    * whitespace tokens, top-50 under a total order. At 100 TB this is
    * the distributed half of tokenizer training: explode + one
    * map-side-combined groupBy over a vocabulary-bounded key space,
    * then TakeOrdered top-k (no full sort). */
  private val bpePairs = Q("q_text_bpe_pairs",
    (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(explode(TextAnalysis.tokens).as("w"))
        .where(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w)-1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(50),
    raw"""
      WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
                    FROM documents),
      pairs AS (SELECT substring(w, i, 2) AS pair
                FROM toks, unnest(range(1, length(w))) AS r(i)
                WHERE length(w) >= 2)
      SELECT pair, count(*) AS n FROM pairs GROUP BY pair
      ORDER BY n DESC, pair LIMIT 50""")

  /** Cross-source contamination matrix: distinct 3-shingles shared by
    * each source pair, with the overlap coefficient — the governance
    * query "which corpus slices duplicate which" before mixing.
    * Inverted-index join on the shingle: fan-out per shingle is
    * bounded by the number of SOURCES it appears in (≤ #sources, a
    * dimension-sized constant), never by document count — the
    * per-source distinct collapses doc-level df first. */
  private val sourceOverlap = Q("q_source_overlap",
    (s, dir) => {
      // persisted: sizes and BOTH self-join sides read this derived
      // lineage — without it the explode+distinct runs three times and
      // AQE may re-evaluate the self-join sides independently
      val sh = graft.CacheScope.persist(Tables.load(s, dir, "documents")
        .select(col("source"), TextAnalysis.tokens.as("t"))
        .where(size(col("t")) >= 3)
        .select(col("source"), explode(expr(
          "transform(sequence(0, size(t)-3), i -> array_join(slice(t, i+1, 3), ' '))"))
          .as("s"))
        .distinct())
      val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val a = sh.select(col("source").as("src_a"), col("s"))
      val b = sh.select(col("source").as("src_b"), col("s"))
      a.join(b, "s").where(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("n").as("na"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("n").as("nb"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_shared"),
          round(col("n_shared").cast("double") / least(col("na"), col("nb")), 6)
            .as("overlap"))
    },
    raw"""
      WITH toks AS (SELECT source, string_split_regex(lower(trim(text)), '\s+') AS t
                    FROM documents),
      sh AS (SELECT DISTINCT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
             FROM toks, unnest(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1)
                                    ELSE [] END) AS r(i)),
      sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY source)
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared,
        round(CAST(count(*) AS DOUBLE) / least(min(sa.n), min(sb.n)), 6) AS overlap
      FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
      JOIN sizes sa ON sa.source = a.source
      JOIN sizes sb ON sb.source = b.source
      GROUP BY a.source, b.source""")

  val all: Seq[Q] = Seq(tokenCount, langId, quality, vocab, fingerprints,
    exact, jaccard, minhash, lsh, incrementalLsh, simhash, simhashPairs,
    simhashTopM,
    topmRecall, editVerify, lshRecall, lmScore, hashTf, boilerplate,
    tokenHistogram, pmi, pmiCapped, prefixJaccard, prefixCapped,
    prefixCappedRecall,
    corpusDrift, containment,
    containmentRecall, containmentExact, substring, spanRemove, bm25,
    bpePairs, sourceOverlap)
}
