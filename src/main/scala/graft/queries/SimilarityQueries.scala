package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.similarity.Knn

/** Embedding similarity fixtures over `embeddings` (vec_id,
  * embedding float[64], label): brute-force cosine top-k (exact
  * baseline), sign-LSH bucketed ANN (scale path), and bucketed
  * similar-pair mining. Scores are rounded to 6 dp in both engines;
  * ranks tie-break on candidate id.
  */
object SimilarityQueries {

  private def bucketSql(nBits: Int): String =
    (0 until nBits).map(i =>
      s"(CASE WHEN e[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")

  private val prepCte = """
      WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS e,
          sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings)"""

  private val brute = Q("q_knn_brute_force",
    (s, dir) => Knn.bruteForceTopK(
      Tables.load(s, dir, "embeddings"), col("vec_id") < 5, k = 10),
    prepCte + """,
      q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM p WHERE vec_id < 5),
      c AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM p)
      SELECT qid, cid, rank, round(cos, 6) AS cos_r FROM (
        SELECT qid, cid,
          list_inner_product(qe, ce) / (qn * cn) AS cos,
          row_number() OVER (PARTITION BY qid
            ORDER BY list_inner_product(qe, ce) / (qn * cn) DESC, cid) AS rank
        FROM c, q WHERE qid <> cid)
      WHERE rank <= 10""")

  private val lsh = Q("q_knn_lsh_bucketed",
    (s, dir) => Knn.lshTopK(
      Tables.load(s, dir, "embeddings"), col("vec_id") < 20, k = 5, nBits = 8),
    prepCte + s""",
      pb AS (SELECT vec_id, e, nrm, ${bucketSql(8)} AS bucket FROM p),
      q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn, bucket FROM pb
            WHERE vec_id < 20),
      c AS (SELECT vec_id AS cid, e AS ce, nrm AS cn, bucket FROM pb)
      SELECT qid, cid, rank, round(cos, 6) AS cos_r FROM (
        SELECT qid, cid,
          list_inner_product(qe, ce) / (qn * cn) AS cos,
          row_number() OVER (PARTITION BY qid
            ORDER BY list_inner_product(qe, ce) / (qn * cn) DESC, cid) AS rank
        FROM c JOIN q USING (bucket) WHERE qid <> cid)
      WHERE rank <= 5""")

  private val pairs = Q("q_emb_similar_pairs",
    (s, dir) => Knn.similarPairs(
      Tables.load(s, dir, "embeddings"), nBits = 8, threshold = 0.30),
    prepCte + s""",
      pb AS (SELECT vec_id, e, nrm, ${bucketSql(8)} AS bucket FROM p)
      SELECT va, vb, round(cos, 6) AS cos_r FROM (
        SELECT a.vec_id AS va, b.vec_id AS vb,
          list_inner_product(a.e, b.e) / (a.nrm * b.nrm) AS cos
        FROM pb a JOIN pb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      WHERE cos >= 0.30""")

  /** Embedding-level dedup clusters: connected components over the
    * cosine similar-pairs graph — the same pair generator as
    * `q_emb_similar_pairs`, closed transitively (a≈b, b≈c ⇒ one
    * cluster). Reuses the generic CC dataflow from `Dedup`. */
  private val embClusters = Q("q_emb_dedup_clusters",
    (s, dir) => graft.text.Dedup.connectedComponents(
        Knn.similarPairs(Tables.load(s, dir, "embeddings"),
            nBits = 8, threshold = 0.30)
          .select(col("va").as("da"), col("vb").as("db")))
      .withColumnRenamed("doc_id", "vec_id"),
    (prepCte + s""",
      pb AS (SELECT vec_id, e, nrm, ${bucketSql(8)} AS bucket FROM p),
      epairs AS (SELECT va, vb FROM (
          SELECT a.vec_id AS va, b.vec_id AS vb,
            list_inner_product(a.e, b.e) / (a.nrm * b.nrm) AS cos
          FROM pb a JOIN pb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        WHERE cos >= 0.30),
      eg AS (SELECT va AS src, vb AS dst FROM epairs
             UNION ALL
             SELECT vb, va FROM epairs),
      r(node, x) AS (
        SELECT DISTINCT src, src FROM eg
        UNION
        SELECT r.node, eg.dst FROM r JOIN eg ON r.x = eg.src)
      SELECT node AS vec_id, min(x) AS component
      FROM r GROUP BY node""").replaceFirst("WITH ", "WITH RECURSIVE "))

  private val ivf = Q("q_knn_ivf",
    (s, dir) => Knn.ivfTopK(
      Tables.load(s, dir, "embeddings"), col("vec_id") < 5,
      k = 10, nCentroids = 16, nProbe = 2),
    prepCte + """,
      cents AS (SELECT vec_id AS centroid_id, e AS ce, nrm AS cn FROM p
                WHERE vec_id < 16),
      asg AS (SELECT cid, centroid_id FROM (
        SELECT p.vec_id AS cid, c.centroid_id,
          row_number() OVER (PARTITION BY p.vec_id
            ORDER BY list_inner_product(p.e, c.ce) / (p.nrm * c.cn) DESC,
                     c.centroid_id) AS crank
        FROM p, cents c) WHERE crank <= 1),
      probes AS (SELECT qid, centroid_id FROM (
        SELECT p.vec_id AS qid, c.centroid_id,
          row_number() OVER (PARTITION BY p.vec_id
            ORDER BY list_inner_product(p.e, c.ce) / (p.nrm * c.cn) DESC,
                     c.centroid_id) AS crank
        FROM p, cents c WHERE p.vec_id < 5) WHERE crank <= 2),
      cand AS (SELECT DISTINCT pr.qid, a.cid
               FROM probes pr JOIN asg a ON pr.centroid_id = a.centroid_id
               WHERE pr.qid <> a.cid)
      SELECT qid, cid, rank, round(cos, 6) AS cos_r FROM (
        SELECT cand.qid, cand.cid,
          list_inner_product(q.e, c.e) / (q.nrm * c.nrm) AS cos,
          row_number() OVER (PARTITION BY cand.qid
            ORDER BY list_inner_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
                     cand.cid) AS rank
        FROM cand JOIN p q ON cand.qid = q.vec_id
                  JOIN p c ON cand.cid = c.vec_id)
      WHERE rank <= 10""")

  private val int8 = Q("q_emb_int8_profile",
    (s, dir) => graft.similarity.Quantize.int8Profile(
      Tables.load(s, dir, "embeddings")),
    raw"""
      WITH ql AS (SELECT vec_id, embedding::DOUBLE[] AS e,
          list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale
        FROM embeddings),
      qz AS (SELECT vec_id, e, scale,
          list_transform(e, x -> CAST(round(CASE WHEN scale = 0 THEN 0.0
            ELSE x / scale * 127 END) AS INT)) AS q
        FROM ql),
      cs AS (SELECT vec_id,
          CAST(sum(q[CAST(i AS INT)] * i) AS BIGINT) AS q_checksum
        FROM qz, unnest(range(1, len(q) + 1)) AS u(i) GROUP BY 1)
      SELECT qz.vec_id, CAST(len(e) AS BIGINT) AS dim,
        round(scale, 6) AS scale_r, cs.q_checksum,
        round(list_max(list_transform(e, x -> abs(x -
          round(CASE WHEN scale = 0 THEN 0.0 ELSE x / scale * 127 END)
          * scale / 127))), 6) AS max_abs_err
      FROM qz JOIN cs ON qz.vec_id = cs.vec_id""")

  private val signBitsSql =
    (0 until 63).map(i =>
      s"(CASE WHEN e[${i + 1}] > 0 THEN CAST(${1L << i} AS BIGINT) " +
        "ELSE CAST(0 AS BIGINT) END)").mkString(" + ")

  private val signSigCte = raw"""
      WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      sig AS (SELECT vec_id, $signBitsSql AS sig FROM p)"""

  private val signSig = Q("q_emb_sign_sig",
    (s, dir) => graft.similarity.Quantize.signSignature(
      Tables.load(s, dir, "embeddings")),
    signSigCte + "\n      SELECT vec_id, sig FROM sig")

  private val hamming = Q("q_emb_hamming_pairs",
    (s, dir) => graft.similarity.Quantize.hammingPairs(
      graft.similarity.Quantize.signSignature(
        Tables.load(s, dir, "embeddings")), maxHamming = 18),
    signSigCte + raw""",
      sp AS (SELECT vec_id, sig, b AS band_idx,
               (sig >> CAST(b * 9 AS INT)) % 512 AS band_val
             FROM sig, unnest(range(0, 7)) AS u(b))
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
        CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      FROM sp a JOIN sp b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 18""")

  /** Higher-order array-function surface over the embedding column:
    * indexed size, lambda filter/exists, element-wise transform, ordered
    * left-fold (`aggregate`), and the codegen `dot_f64` against the
    * reversed vector (`zip_with`-equivalent). Every form is a narrow
    * per-row expression — the vector math never leaves the row (the
    * lambda forms are CodegenFallback, `dot_f64` is codegen) — and
    * each has an exact DuckDB list-lambda twin (`list_filter`/
    * `list_transform`/`list_reduce`/`list_inner_product`), so the whole
    * HOF surface is hash-checked. Folds are left-to-right in both
    * engines with double accumulation, which makes them bit-comparable;
    * log/cos-style outputs round to 6 dp per the established rule. */
  private val hofSuite = Q("q_f_hof_suite",
    (s, dir) => {
      graft.functions.VectorExpressions.register(s)
      Tables.load(s, dir, "embeddings")
        .withColumn("e", col("embedding").cast("array<double>"))
        .select(
          col("vec_id"),
          size(col("e")).cast("long").as("n_dims"),
          size(filter(col("e"), x => x > 0)).cast("long").as("n_pos"),
          exists(col("e"), x => x < lit(-0.5)).as("has_strong_neg"),
          round(array_max(transform(col("e"), x => abs(x))), 6)
            .as("max_abs"),
          round(aggregate(col("e"), lit(0.0), (acc, x) => acc + abs(x)), 6)
            .as("l1_norm"),
          round(expr("dot_f64(e, reverse(e))"), 6).as("rev_dot"))
    },
    """
      WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
      SELECT vec_id,
        CAST(len(e) AS BIGINT) AS n_dims,
        CAST(len(list_filter(e, x -> x > 0)) AS BIGINT) AS n_pos,
        len(list_filter(e, x -> x < -0.5)) > 0 AS has_strong_neg,
        round(list_max(list_transform(e, x -> abs(x))), 6) AS max_abs,
        round(list_reduce(list_prepend(0.0, list_transform(e, x -> abs(x))),
          (a, b) -> a + b), 6) AS l1_norm,
        round(list_inner_product(e, list_reverse(e)), 6) AS rev_dot
      FROM p""")

  /** Shared PQ oracle head: sub-vector slices, the deterministic
    * codebook, and the per-(vector, subspace) nearest-centroid codes —
    * the same expression tree (ip(a,a) - 2·ip(a,b) + ip(b,b), centroid
    * tiebreak) as `Pq.encode`. */
  private val pqCte = raw"""
      WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      sub AS (SELECT vec_id, s, e[s*8+1 : s*8+8] AS v
              FROM p, unnest(range(0, 8)) AS u(s)),
      cb AS (SELECT vec_id AS cid, s, v AS cv FROM sub WHERE vec_id < 16),
      enc AS (SELECT vec_id, s, cid AS code FROM (
          SELECT sub.vec_id, sub.s, cb.cid,
            row_number() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
              list_inner_product(sub.v, sub.v)
                - 2 * list_inner_product(sub.v, cb.cv)
                + list_inner_product(cb.cv, cb.cv), cb.cid) AS rn
          FROM sub JOIN cb ON sub.s = cb.s) WHERE rn = 1)"""

  /** PQ corpus encode: 64 floats → one packed 32-bit code (8 subspaces
    * × 4-bit nearest-centroid id). */
  private val pqCodes = Q("q_pq_codes",
    (s, dir) => graft.similarity.Pq.encode(
      Tables.load(s, dir, "embeddings")),
    pqCte + """
      SELECT vec_id, CAST(sum(code << (4 * s)) AS BIGINT) AS pq_code
      FROM enc GROUP BY vec_id""")

  /** PQ ADC scan: per-query LUT of query-to-centroid distances, corpus
    * ranked by summed lookups — the decompression-free approximate
    * search over the codes. */
  private val pqAdc = Q("q_pq_adc_topk",
    (s, dir) => graft.similarity.Pq.adcTopK(
      Tables.load(s, dir, "embeddings"), s,
      queryPred = col("vec_id") < 5, k = 10),
    pqCte + """,
      lut AS (SELECT q.vec_id AS qid, q.s, cb.cid AS code,
          CAST(list_inner_product(q.v, q.v)
            - 2 * list_inner_product(q.v, cb.cv)
            + list_inner_product(cb.cv, cb.cv) AS DECIMAL(24,12)) AS d
        FROM sub q JOIN cb ON q.s = cb.s WHERE q.vec_id < 5),
      adc AS (SELECT lut.qid, enc.vec_id AS cid,
          CAST(sum(lut.d) AS DOUBLE) AS adc
        FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.code
        WHERE lut.qid <> enc.vec_id
        GROUP BY lut.qid, enc.vec_id)
      SELECT qid, cid, rank, round(adc, 6) AS adc_r FROM (
        SELECT qid, cid, adc,
          CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, cid)
            AS BIGINT) AS rank
        FROM adc)
      WHERE rank <= 10""")

  /** One Lloyd assignment round in oracle SQL: nearest centroid from
    * `cSrc`, ties on cid — the same expression tree as `Kmeans.assign`.
    * `pSrc` names the prepared-vector CTE (vec_id, e) so composed
    * oracles (the curation flagship) can run the trajectory over a
    * FILTERED vector set without CTE-name collisions. */
  private[queries] def kmAssign(cSrc: String, pSrc: String = "p"): String = s"""
      (SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid, row_number() OVER (PARTITION BY p.vec_id
          ORDER BY list_inner_product(p.e, p.e)
            - 2 * list_inner_product(p.e, c.cv)
            + list_inner_product(c.cv, c.cv), c.cid) AS rn
        FROM $pSrc p, $cSrc c) WHERE rn = 1)"""

  /** One recenter round in oracle SQL: per-(cluster, dim) decimal-exact
    * means re-assembled into ordered centroid lists. */
  private[queries] def kmRecenter(aSrc: String, pSrc: String = "p"): String = s"""
      (SELECT cid, list(m ORDER BY pos) AS cv, max(n) AS n_members FROM
        (SELECT cid, pos,
           CAST(sum(CAST(e[pos] AS DECIMAL(24,12))) AS DOUBLE) / count(*)
             AS m,
           count(*) AS n
         FROM $aSrc a JOIN $pSrc p USING (vec_id),
           unnest(range(1, len(e) + 1)) AS u(pos)
         GROUP BY cid, pos)
       GROUP BY cid)"""

  /** Deterministic Lloyd k-means (k=8, 2 iterations) — both engines walk
    * the same centroid trajectory, checked on membership counts and
    * 6-dp centroid scalars. */
  private val kmeans = Q("q_kmeans_fit",
    (s, dir) => {
      graft.functions.VectorExpressions.register(s)
      graft.similarity.Kmeans.fit(
          Tables.load(s, dir, "embeddings"), k = 8, iters = 2)
        .select(col("cid"), col("n_members"),
          round(element_at(col("cv"), 1), 6).as("c0_r"),
          round(sqrt(expr("dot_f64(cv, cv)")), 6).as("norm_r"))
    },
    s"""
      WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      c0 AS (SELECT vec_id AS cid, e AS cv FROM p WHERE vec_id < 8),
      a1 AS ${kmAssign("c0")},
      c1 AS ${kmRecenter("a1")},
      a2 AS ${kmAssign("c1")},
      c2 AS ${kmRecenter("a2")}
      SELECT cid, n_members, round(cv[1], 6) AS c0_r,
        round(sqrt(list_inner_product(cv, cv)), 6) AS norm_r
      FROM c2""")

  /** IVF-PQ: coarse inverted lists (full-vector L2 assignment, nProbe=2)
    * restrict the scan; ADC ranks only the probed candidates — the
    * two-level index composition, hash-checked end to end. */
  private val pqIvf = Q("q_pq_ivf_adc",
    (s, dir) => graft.similarity.Pq.ivfAdcTopK(
      Tables.load(s, dir, "embeddings"), s,
      queryPred = col("vec_id") < 5, k = 10),
    pqCte + """,
      coarse AS (SELECT vec_id AS ccid, e AS ce FROM p WHERE vec_id < 16),
      cr AS (SELECT p.vec_id, c.ccid, row_number() OVER (
               PARTITION BY p.vec_id ORDER BY
                 list_inner_product(p.e, p.e)
                   - 2 * list_inner_product(p.e, c.ce)
                   + list_inner_product(c.ce, c.ce), c.ccid) AS rn
             FROM p, coarse c),
      lists AS (SELECT vec_id, ccid FROM cr WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, ccid FROM cr
                 WHERE rn <= 2 AND vec_id < 5),
      cand AS (SELECT pr.qid, l.vec_id AS cid
               FROM probes pr JOIN lists l USING (ccid)
               WHERE pr.qid <> l.vec_id),
      lut AS (SELECT q.vec_id AS qid, q.s, cb.cid AS code,
          CAST(list_inner_product(q.v, q.v)
            - 2 * list_inner_product(q.v, cb.cv)
            + list_inner_product(cb.cv, cb.cv) AS DECIMAL(24,12)) AS d
        FROM sub q JOIN cb ON q.s = cb.s WHERE q.vec_id < 5),
      adc AS (SELECT cand.qid, cand.cid, CAST(sum(lut.d) AS DOUBLE) AS adc
              FROM cand
                JOIN enc ON enc.vec_id = cand.cid
                JOIN lut ON lut.qid = cand.qid AND lut.s = enc.s
                  AND lut.code = enc.code
              GROUP BY 1, 2)
      SELECT qid, cid, rank, round(adc, 6) AS adc_r FROM (
        SELECT qid, cid, adc,
          CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, cid)
            AS BIGINT) AS rank
        FROM adc)
      WHERE rank <= 10""")

  /** One trained-codebook Lloyd assignment round in oracle SQL: per
    * (vector, subspace) nearest centroid from `cSrc`, ties on cid. */
  private def pqAssign(cSrc: String): String = s"""
      (SELECT vec_id, s, cid FROM (
        SELECT sub.vec_id, sub.s, c.cid, row_number() OVER (
            PARTITION BY sub.vec_id, sub.s ORDER BY
              list_inner_product(sub.v, sub.v)
                - 2 * list_inner_product(sub.v, c.cv)
                + list_inner_product(c.cv, c.cv), c.cid) AS rn
        FROM sub JOIN $cSrc c ON sub.s = c.s) WHERE rn = 1)"""

  /** One per-subspace recenter round in oracle SQL: decimal-exact
    * (subspace, cluster, dim) means re-assembled into centroid lists. */
  private def pqRecenter(aSrc: String): String = s"""
      (SELECT s, cid, list(m ORDER BY pos) AS cv FROM
        (SELECT a.s, a.cid, pos,
           CAST(sum(CAST(v[pos] AS DECIMAL(24,12))) AS DOUBLE) / count(*)
             AS m
         FROM $aSrc a JOIN sub ON sub.vec_id = a.vec_id AND sub.s = a.s,
           unnest(range(1, len(v) + 1)) AS u(pos)
         GROUP BY a.s, a.cid, pos)
       GROUP BY s, cid)"""

  /** Recall floor for the trained IVF-PQ + rerank path. Measured on the
    * fixture embeddings (near-random vectors — PQ's hard case, where
    * neighbor gaps are small vs quantization noise): raw ADC ordering
    * alone scores ~0.3–0.5, IVFADC+R with a 100-candidate shortlist
    * scores 0.92–0.98 across sf0.01/sf0.1. 0.8 fails the gate on any
    * real quality collapse while staying below fixture drift. */
  private val pqRecallFloor = 0.8

  /** ADC-quality gate for the TRAINED IVF-PQ path (k-means codebooks
    * via `Kmeans.fitGrouped`, 2 Lloyd rounds; 16 subspaces × 4 dims;
    * nProbe=4; exact rerank of the 100-candidate ADC shortlist):
    * recall@10 against the exact squared-L2 top-10 — ADC approximates
    * L2, so L2, not cosine, is the right ground truth. One row
    * (n_true, n_hit, recall, recall_ok); the hashed `recall_ok`
    * boolean FAILS the gate if ADC quality collapses, the
    * `q_dedup_lsh_recall` pattern. */
  private val pqRecall = Q("q_pq_recall",
    (s, dir) => {
      graft.functions.VectorExpressions.register(s)
      val emb = Tables.load(s, dir, "embeddings")
      val approx = graft.similarity.Pq.ivfPqRerankTopK(emb, s,
        queryPred = col("vec_id") < 5, k = 10, shortlist = 100,
        nProbe = 4, nSub = 16, subDim = 4, trainIters = 2)
        .select(col("qid"), col("cid"))
      val p = graft.CacheScope.persist(
        emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("e")))
      val q = p.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("e").as("qe"))
      val byL2 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid"))
        .orderBy(expr(
          "dot_f64(qe, qe) - 2 * dot_f64(qe, e) + dot_f64(e, e)").asc,
          col("vec_id").asc)
      val truth = graft.CacheScope.persist(
        p.crossJoin(broadcast(q))
          .where(col("qid") =!= col("vec_id"))
          .withColumn("rank", row_number().over(byL2))
          .where(col("rank") <= 10)
          .select(col("qid"), col("vec_id").as("cid")))
      val hits = truth.join(approx, Seq("qid", "cid"), "left_semi")
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(col("n_true"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_true"), 6).as("recall"),
          (col("n_hit").cast("double") / col("n_true") >= pqRecallFloor)
            .as("recall_ok"))
    },
    s"""
      WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      sub AS (SELECT vec_id, s, e[s*4+1 : s*4+4] AS v
              FROM p, unnest(range(0, 16)) AS u(s)),
      tcb0 AS (SELECT s, vec_id AS cid, v AS cv FROM sub WHERE vec_id < 16),
      ta1 AS ${pqAssign("tcb0")},
      tcb1 AS ${pqRecenter("ta1")},
      ta2 AS ${pqAssign("tcb1")},
      tcb2 AS ${pqRecenter("ta2")},
      enc AS (SELECT vec_id, s, cid AS code FROM (
          SELECT sub.vec_id, sub.s, c.cid, row_number() OVER (
              PARTITION BY sub.vec_id, sub.s ORDER BY
                list_inner_product(sub.v, sub.v)
                  - 2 * list_inner_product(sub.v, c.cv)
                  + list_inner_product(c.cv, c.cv), c.cid) AS rn
          FROM sub JOIN tcb2 c ON sub.s = c.s) WHERE rn = 1),
      coarse AS (SELECT vec_id AS ccid, e AS ce FROM p WHERE vec_id < 16),
      cr AS (SELECT p.vec_id, c.ccid, row_number() OVER (
               PARTITION BY p.vec_id ORDER BY
                 list_inner_product(p.e, p.e)
                   - 2 * list_inner_product(p.e, c.ce)
                   + list_inner_product(c.ce, c.ce), c.ccid) AS rn
             FROM p, coarse c),
      lists AS (SELECT vec_id, ccid FROM cr WHERE rn = 1),
      probes AS (SELECT vec_id AS qid, ccid FROM cr
                 WHERE rn <= 4 AND vec_id < 5),
      cand AS (SELECT pr.qid, l.vec_id AS cid
               FROM probes pr JOIN lists l USING (ccid)
               WHERE pr.qid <> l.vec_id),
      lut AS (SELECT q.vec_id AS qid, q.s, c.cid AS code,
          CAST(list_inner_product(q.v, q.v)
            - 2 * list_inner_product(q.v, c.cv)
            + list_inner_product(c.cv, c.cv) AS DECIMAL(24,12)) AS d
        FROM sub q JOIN tcb2 c ON q.s = c.s WHERE q.vec_id < 5),
      adc AS (SELECT cand.qid, cand.cid, CAST(sum(lut.d) AS DOUBLE) AS adc
              FROM cand
                JOIN enc ON enc.vec_id = cand.cid
                JOIN lut ON lut.qid = cand.qid AND lut.s = enc.s
                  AND lut.code = enc.code
              GROUP BY 1, 2),
      shortl AS (SELECT qid, cid FROM (
          SELECT qid, cid, row_number() OVER (PARTITION BY qid
            ORDER BY adc, cid) AS rank FROM adc)
        WHERE rank <= 100),
      approx AS (SELECT qid, cid FROM (
          SELECT sl.qid, sl.cid, row_number() OVER (
              PARTITION BY sl.qid ORDER BY
                list_inner_product(q.e, q.e)
                  - 2 * list_inner_product(q.e, c.e)
                  + list_inner_product(c.e, c.e), sl.cid) AS rank
          FROM shortl sl JOIN p q ON sl.qid = q.vec_id
               JOIN p c ON sl.cid = c.vec_id)
        WHERE rank <= 10),
      truth AS (SELECT qid, cid FROM (
          SELECT q.vec_id AS qid, c.vec_id AS cid, row_number() OVER (
              PARTITION BY q.vec_id ORDER BY
                list_inner_product(q.e, q.e)
                  - 2 * list_inner_product(q.e, c.e)
                  + list_inner_product(c.e, c.e), c.vec_id) AS rank
          FROM p c, p q WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        WHERE rank <= 10),
      nt AS (SELECT count(*) AS n_true FROM truth),
      nh AS (SELECT count(*) AS n_hit FROM truth
             JOIN approx USING (qid, cid))
      SELECT n_true, n_hit,
        round(CAST(n_hit AS DOUBLE) / n_true, 6) AS recall,
        -- literal TRUE, not recomputed: if the trained pipeline's
        -- recall drops below the floor, Spark emits false and the row
        -- hash-MISMATCHES — recomputing the boolean here would make
        -- both engines agree on the failure and never fire the gate
        true AS recall_ok
      FROM nt, nh""")

  /** L2 normalization — the standard pre-step before cosine ANN /
    * semantic dedup: unit-norm check plus the first normalized
    * component. Pure narrow projection (the codegen `dot_f64` norm
    * never leaves the row); zero-norm vectors are fenced to 0. */
  private val embNormalize = Q("q_emb_normalize",
    (s, dir) => {
      val p = Knn.prepared(Tables.load(s, dir, "embeddings"))
      p.select(col("vec_id"),
        size(col("e")).cast("long").as("dim"),
        round(col("nrm"), 6).as("l2_norm"),
        round(when(col("nrm") === 0, 0.0)
          .otherwise(element_at(col("e"), 1) / col("nrm")), 6).as("u0"),
        round(when(col("nrm") === 0, 0.0)
          .otherwise(expr("dot_f64(e, e)") / (col("nrm") * col("nrm"))), 6)
          .as("unit_check"))
    },
    prepCte + """
      SELECT vec_id, CAST(len(e) AS BIGINT) AS dim,
        round(nrm, 6) AS l2_norm,
        round(CASE WHEN nrm = 0 THEN 0.0 ELSE e[1] / nrm END, 6) AS u0,
        round(CASE WHEN nrm = 0 THEN 0.0
          ELSE list_inner_product(e, e) / (nrm * nrm) END, 6) AS unit_check
      FROM p""")

  /** Hybrid retrieval: Reciprocal Rank Fusion of the lexical BM25 leg
    * (documents) and the exact-cosine vector leg (embeddings) for the
    * shared query ids 0–4 — the fixtures key both tables in one id
    * space, modeling a corpus with per-document embeddings. Each leg is
    * top-20-bounded per query, so fusion work is workload-sized. */
  private val hybridRrf = Q("q_hybrid_rrf",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val queries = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          explode(graft.text.TextAnalysis.tokens).as("tok"))
        .distinct()
      val lex = graft.text.TextAnalysis.bm25TopK(docs, queries, k = 20)
        .select(col("qid"), col("doc_id").as("id"), col("rank"))
      val vec = Knn.bruteForceTopK(emb, col("vec_id") < 5, k = 20)
        .select(col("qid"), col("cid").as("id"), col("rank"))
      graft.similarity.Hybrid.rrfFuse(Seq(lex, vec), k0 = 60, topK = 10)
    },
    "WITH " + TextQueries.bm25Ctes("doc_id < 5") + raw""",
      p AS (SELECT vec_id, embedding::DOUBLE[] AS e,
          sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        FROM embeddings),
      vq AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM p
             WHERE vec_id < 5),
      vc AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM p),
      vr AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
               ORDER BY list_inner_product(qe, ce) / (qn * cn) DESC, cid)
               AS rank
             FROM vc, vq WHERE qid <> cid),
      lex AS (SELECT qid, doc_id AS id, rn AS rank FROM rk WHERE rn <= 20),
      vec AS (SELECT qid, cid AS id, rank FROM vr WHERE rank <= 20),
      u AS (SELECT qid, id,
              CAST(round(CAST(1 AS DOUBLE) /
                (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)), 6)
                AS DECIMAL(18,6)) AS t
            FROM lex
            UNION ALL
            SELECT qid, id,
              CAST(round(CAST(1 AS DOUBLE) /
                (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE)), 6)
                AS DECIMAL(18,6))
            FROM vec),
      f AS (SELECT qid, id, CAST(count(*) AS BIGINT) AS n_legs,
              sum(t) AS rrf
            FROM u GROUP BY 1, 2),
      r AS (SELECT qid, id, n_legs, rrf,
              row_number() OVER (PARTITION BY qid
                ORDER BY rrf DESC, id) AS rn2
            FROM f)
      SELECT qid, id, n_legs, CAST(rrf AS DOUBLE) AS rrf
      FROM r WHERE rn2 <= 10""")

  /** Cross-modality dedup agreement audit: which near-dup PAIRS does
    * the lexical signal (exact Jaccard ≥ 0.5 over 3-shingles) find vs
    * the embedding signal (bucketed cosine ≥ 0.30) — the governance
    * query run before trusting either signal alone to delete data.
    * BOTH pair legs are restricted to the id universe carrying BOTH
    * signals (text pairs to ids that have embeddings, embedding pairs
    * to ids that have documents — a pair is only classifiable where
    * both signals exist); the join of the two pair sets is a full
    * outer on (da, db) — both sides are near-dup-sized, not
    * corpus-sized, so the audit costs what the two generators cost. */
  private val modalityAgreement = Q("q_dedup_modality_agreement",
    (s, dir) => graft.similarity.Hybrid.modalityAgreement(
      Tables.load(s, dir, "documents"),
      Tables.load(s, dir, "embeddings")),
    TextQueries.shCte + s""",
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      jp AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_common
             FROM sh a JOIN sh b USING (s)
             WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      tp AS (SELECT da, db,
               CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
             FROM jp
             JOIN sizes sa ON da = sa.doc_id
             JOIN sizes sb ON db = sb.doc_id
             WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
               AND da IN (SELECT vec_id FROM embeddings)
               AND db IN (SELECT vec_id FROM embeddings)),
      p AS (SELECT vec_id, embedding::DOUBLE[] AS e,
              sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
            FROM embeddings),
      pb AS (SELECT vec_id, e, nrm, ${bucketSql(8)} AS bucket FROM p),
      ep AS (SELECT va AS da, vb AS db, round(cos, 6) AS cos_r FROM (
               SELECT a.vec_id AS va, b.vec_id AS vb,
                 list_inner_product(a.e, b.e) / (a.nrm * b.nrm) AS cos
               FROM pb a JOIN pb b ON a.bucket = b.bucket
                 AND a.vec_id < b.vec_id)
             WHERE cos >= 0.30
               AND va IN (SELECT doc_id FROM documents)
               AND vb IN (SELECT doc_id FROM documents))
      SELECT coalesce(tp.da, ep.da) AS da, coalesce(tp.db, ep.db) AS db,
        tp.jaccard IS NOT NULL AS in_text,
        ep.cos_r IS NOT NULL AS in_emb,
        tp.jaccard, ep.cos_r,
        CASE WHEN tp.jaccard IS NOT NULL AND ep.cos_r IS NOT NULL THEN 'both'
             WHEN tp.jaccard IS NOT NULL THEN 'text_only'
             ELSE 'emb_only' END AS signal
      FROM tp FULL OUTER JOIN ep ON tp.da = ep.da AND tp.db = ep.db""")

  /** SemDeDup (Abbas et al. 2023): k-means-sharded semantic dedup —
    * duplicates are near-cosine pairs WITHIN a trained cluster, keeper
    * is the min id per dominator set. Reuses the q_kmeans_fit training
    * trajectory (k=8, 2 Lloyd rounds, seeded from the first k vectors)
    * plus one final assignment, so the oracle walks the identical
    * centroid path; the pair stage is quadratic only within a cluster
    * (O(n²/k), the paper's scaling argument), never across. */
  private val semanticDedup = Q("q_dedup_semantic",
    (s, dir) => graft.similarity.SemDedup.semDedup(
      Tables.load(s, dir, "embeddings"), k = 8, iters = 2, tau = 0.35),
    s"""
      WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      c0 AS (SELECT vec_id AS cid, e AS cv FROM p WHERE vec_id < 8),
      a1 AS ${kmAssign("c0")},
      c1 AS ${kmRecenter("a1")},
      a2 AS ${kmAssign("c1")},
      c2 AS ${kmRecenter("a2")},
      af AS ${kmAssign("(SELECT cid, cv FROM c2)")},
      pn AS (SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm
             FROM p),
      j AS (SELECT af.vec_id, af.cid, pn.e, pn.nrm
            FROM af JOIN pn USING (vec_id)),
      dom AS (SELECT b.vec_id, min(a.vec_id) AS kept_for,
                count(*) AS n_dominators
              FROM j a JOIN j b ON a.cid = b.cid AND a.vec_id < b.vec_id
              WHERE list_inner_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.35
              GROUP BY b.vec_id)
      SELECT j.vec_id, j.cid, dom.kept_for,
        coalesce(dom.n_dominators, 0) AS n_dominators,
        dom.kept_for IS NULL AS keep
      FROM j LEFT JOIN dom USING (vec_id)""")

  val all: Seq[Q] = Seq(brute, lsh, ivf, pairs, embClusters, int8, signSig,
    hamming, hofSuite, pqCodes, pqAdc, kmeans, pqIvf, pqRecall,
    embNormalize, hybridRrf, modalityAgreement, semanticDedup)
}
