package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Scalars

/** Document deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard near-dup — all as distributed dataflows
  * (inverted-index joins, never an O(n²) cross join).
  *
  * Hashing is md5-based (`Scalars.md5Long60`) so a SQL oracle can
  * reproduce every signature bit-exactly: x = first 15 hex chars of md5
  * decoded base-16 (60 bits), then universal hashes
  * `(a_i·(x mod p) + b_i) mod p` over prime p = 2^31-1.
  *
  * Scale notes: shingling is a narrow projection; the only shuffles are
  * the distinct/groupBy on (doc, shingle) and the candidate-pair joins,
  * all key-partitioned. The document-frequency cap bounds inverted-index
  * fan-out (a shingle seen in d docs contributes d² candidate pairs —
  * frequency-capped to keep the join linear-ish, the standard trick).
  */
object Dedup {

  /** One row per document: its distinct-shingle count and the 64-bit
    * hashes of its shingles as an array — the row-explosion-free
    * verification representation. Counting a candidate pair's true
    * intersection by re-joining (doc, s) rows sorts |cands| × n rows;
    * on a dense corpus (median shingle df ≈ 9 on the synthetic sf10x
    * decade, so "shares a rare shingle" admits tens of millions of
    * candidates) that reached ~10⁹ rows and spilled past local disk.
    * Joining candidates to two of THESE rows and intersecting in-row
    * keeps the volume at |cands| rows with bounded per-row arrays
    * (docs are 14–78 shingles). Exact up to a 64-bit hash collision
    * inside one pair's union (P ≈ n²/2⁶⁴ per pair; the brute-force
    * oracles would hash-mismatch on one).
    *
    * The arrays are SORTED at build (once per document) so the verify
    * stage can count the intersection with the allocation-free merge
    * walk of [[graft.functions.SortedIntersectCountI64]] instead of
    * `size(array_intersect(...))`, which hashes one side and
    * materializes the full intersection array per CANDIDATE PAIR —
    * the verify stage's dominant CPU after the joins (pair budget ×
    * corpus size evaluations at 100 TB vs one sort per document
    * here). Input is the HASHED posting frame of [[hashedPostings]]. */
  private[graft] def docHashSets(hp: DataFrame): DataFrame =
    hp.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("hs"),
        count(lit(1)).as("n"))

  /** (doc_id, h) postings: each shingle replaced by its 64-bit
    * xxhash64 fingerprint — the SHIPPING format of the pair family's
    * heavy stages. A posting row shrinks from ~50 B (3-gram string) to
    * 16 B, so every df groupBy, posting self-join, and verify shuffle
    * moves 3–4× fewer bytes; at 2.5M docs (130M postings) the string
    * form's in-flight shuffle files exceeded local disk where the
    * hashed form fits with margin (PERF.md round 15). Equality on h is
    * equality on s up to a 64-bit collision — the SAME bound the
    * verify stage has always accepted ([[docHashSets]]). A collision
    * can merge two shingles' df counts, admit one spurious candidate
    * (which the verify stage's exact-set intersection then rejects),
    * or — on [[jaccardPairs]]' direct small-corpus path, whose
    * n_common comes straight from the h-equality self-join with no
    * downstream verify — inflate one pair's n_common/jaccard or admit
    * one spurious pair. All three are bounded by the same n²/2⁶⁴ term
    * (~10⁻⁷ at a billion postings), deterministically. */
  private[graft] def hashedPostings(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), xxhash64(col("s")).as("h"))

  /** Verify-side broadcast budget: the hash-set frame broadcasts when
    * its estimated build size (~48 B/row + 8 B/posting) fits. 1.5 GB
    * clears a 5M-doc corpus shard and stays far under Spark's 8 GB
    * broadcast build limit. Above it the frame is staged through the
    * BUCKETED sink ([[graft.sources.Bucketing.stageBucketed]]) instead
    * of reverting to a plain sort-merge join: the round-12 SMJ fallback
    * re-shuffled AND externally sorted the multi-GB hash-set frame once
    * per verify join (53.8 GB written at 1M docs — write-bandwidth
    * bound), while the bucketed stage pays ONE hash shuffle at write
    * time and both joins then read bucket-local pre-sorted files with
    * no exchange and no sort on this side — no broadcast memory
    * ceiling, executor-count-parallel at any corpus size.
    * Tunable for measurement via the session conf (set 0 to force the
    * bucketed path). */
  private[graft] val VerifyBroadcastBytesKey = "spark.graft.verifyBroadcastBytes"
  /** The verify fence when [[VerifyBroadcastBytesKey]] is unset. */
  private[graft] val DefaultVerifyBroadcastBytes: Double = 1.5e9
  private def broadcastVerifyBytes(sh: DataFrame): Double =
    sh.sparkSession.conf.getOption(VerifyBroadcastBytesKey)
      .fold(DefaultVerifyBroadcastBytes)(_.toDouble)

  /** The verify dispatch's build-size estimates of a hash-set frame,
    * `(est32, est64)`: 48 B per row plus 4 B (32-bit) or 8 B (64-bit)
    * per posting, `postings` counting a row's. One driver aggregate. */
  private[graft] def verifyEstimates(hs: DataFrame,
      postings: Column = col("n")): (Long, Long) = {
    val r = hs.agg(count(lit(1)).as("rows"),
      coalesce(sum(postings), lit(0L)).as("postings")).head()
    val (rows, ps) = (r.getLong(0), r.getLong(1))
    (rows * 48L + ps * 4L, rows * 48L + ps * 8L)
  }

  /** The pair family's endpoint join: `pairs` (da, db, …) joined to the
    * per-doc `side` once at `da` and once at `db`, carrying `cols(e)`
    * for endpoint `e` ∈ {a, b} (hs → ha/hb, n → na/nb). */
  private[graft] def endpointJoin(pairs: DataFrame, side: DataFrame)(
      cols: String => Seq[Column]): DataFrame =
    Seq("a", "b").foldLeft(pairs) { (p, e) =>
      p.join(side.select(col("doc_id").as(s"d$e") +: cols(e): _*), Seq(s"d$e"))
    }

  /** A verified pair predicate: output column `name`, `score(c, na, nb)`
    * from the intersection count and set sizes, MONOTONE NON-DECREASING
    * in c (so one formula is the screen on an overcount of c, the exact
    * filter and the output column), and the output's rounding. */
  private[graft] final case class PairScore(name: String,
      score: (Column, Column, Column) => Column, digits: Option[Int])

  /** Containment |A∩B| / min(|A|,|B|), output rounded to 6 dp. */
  private[graft] val Containment = PairScore("containment",
    (c, na, nb) => c.cast("double") / least(na, nb), Some(6))

  /** Jaccard |A∩B| / |A∪B| (as c grows the denominator shrinks). */
  private[graft] val Jaccard = PairScore("jaccard",
    (c, na, nb) => c.cast("double") / (na + nb - c), None)

  /** Pairs of `common` (da, db, na, nb, n_common) scoring ≥ `threshold`:
    * `(da, db, n_common, <p.name>)`, plus `(na, nb)` when `withSizes`
    * (free here; lets callers pick the drop side without re-aggregating
    * the shingle frame). */
  private def scored(common: DataFrame, p: PairScore, threshold: Double,
      withSizes: Boolean = false): DataFrame = {
    val s = col(p.name)
    common.withColumn(p.name, p.score(col("n_common"), col("na"), col("nb")))
      .filter(s >= threshold)
      .select((Seq(col("da"), col("db"), col("n_common"),
          p.digits.fold(s)(d => round(s, d).as(p.name))) ++
        (if (withSizes) Seq(col("na"), col("nb")) else Nil)): _*)
  }

  /** The exact intersection of the endpoints' 64-bit sets `ha`/`hb`:
    * `(da, db, na, nb, n_common)`. */
  private def exactCommon(joined: DataFrame): DataFrame =
    joined.withColumn("n_common", expr("intersect_count_i64(ha, hb)"))
      .select(col("da"), col("db"), col("na"), col("nb"), col("n_common"))

  /** The two-phase verify: `cands` whose 32-bit merge count `c32` over
    * `screenSide` (doc_id, hs32, n) passes `screen`, held by `pin` (ids
    * and sizes, never arrays), re-joined to `confirmSide(survivors)`
    * (doc_id, hs) for the exact 64-bit n_common. */
  private def screenConfirm(cands: DataFrame, screenSide: DataFrame,
      screen: Column, pin: DataFrame => DataFrame)(
      confirmSide: DataFrame => DataFrame): DataFrame = {
    val screened = pin(endpointJoin(cands, screenSide)(e =>
        Seq(col("hs32").as(s"h${e}32"), col("n").as(s"n$e")))
      .withColumn("c32", expr("intersect_count_i32(ha32, hb32)"))
      .filter(screen)
      .select(col("da"), col("db"), col("na"), col("nb")))
    exactCommon(endpointJoin(screened, confirmSide(screened))(e =>
      Seq(col("hs").as(s"h$e"))))
  }

  /** The pair family's verify stage: the (da, db) candidates whose exact
    * per-pair score under `p` reaches `threshold`, in [[scored]]'s
    * columns — n_common the 64-bit-exact |set(da) ∩ set(db)| and na/nb
    * the exact set sizes — with the verify dispatched ADAPTIVELY on the
    * hash-set frame's size.
    *
    * BELOW the broadcast budget (64-bit estimate) the per-doc frame
    * broadcasts and both verify joins are map-only hash joins, so the
    * wide (da, db, set) intermediate is never sorted or shuffled.
    * Measured (round 12): at 1M docs the sort-merge
    * form's external sort writes ~36 GB of spill and pins the verify
    * stage at the box's write bandwidth — 137 s vs 85 s broadcast; at
    * 500k docs 19 s vs 10 s; outputs hash-identical. The size estimate
    * is a fenced driver scalar ([[verifyEstimates]] over the persisted
    * per-doc frame), the same dispatch pattern as [[jaccardPairs]]'
    * pair-mass budget.
    *
    * IN THE OCTAVE where the 64-bit frame exceeds the budget but its
    * 32-bit truncation fits (round 17 — at sf50x/2.5M docs the 64-bit
    * build estimates ~2.7 GB against the 1.5 GB default fence, which
    * round 16 could only run by raising the fence), the verify runs
    * TWO-PHASE ON BROADCASTS: phase 1 broadcasts only the 32-bit
    * truncated sets (~half the build) and screens candidates with the
    * overcount-or-equal merge-count; phase 2 semi-joins the 64-bit
    * frame down to the docs appearing in surviving pairs — survivors
    * are the true pairs plus the collision sliver, so this frame is a
    * small fraction of the corpus — and confirms with map-only
    * broadcast joins when THAT fits the budget (its size is
    * re-estimated, never assumed; a pathological corpus where most
    * docs survive falls back to a shuffled-hash confirm join, still
    * sort-free and ceiling-free). Both phases stay map-only in the
    * expected case: the broadcast dispatch's reach doubles with no new
    * shuffle on the wide candidate side.
    *
    * ABOVE both budgets the frame routes through the bucketed sink
    * ([[graft.sources.Bucketing.stageBucketed]]) and the verify runs
    * TWO-PHASE (round 16):
    *
    *  - Phase 1 (screen): the candidate joins consume the 32-bit
    *    truncations of the sorted hash arrays (`shiftright(h, 32)` —
    *    order-preserving, so the truncated array is sorted for free)
    *    and the screen is `p`'s score over the merge-count of them,
    *    which is an OVERCOUNT-or-equal of the true intersection (see
    *    [[graft.functions.SortedIntersectCountI32]]) — the score being
    *    monotone, the screen passes a superset of the true
    *    qualifying pairs. The wide candidate×array intermediate — the
    *    stage's dominant shuffle, 20 GB at 500k docs / budget 16
    *    (round 15 event logs), the sf50x single-box ENOSPC risk —
    *    ships 4 B/element instead of 8 B.
    *  - Phase 2 (confirm): survivors (true pairs + the collision
    *    sliver) re-join the staged 64-bit arrays for the EXACT
    *    n_common. Output is bit-identical to the single-phase form;
    *    only candidate-side bytes in flight change.
    *
    * Both phases read ONE staged table holding hs (64-bit), hs32 and n:
    * parquet column pruning means phase 1 never reads the 64-bit
    * column and phase 2 never reads the 32-bit one, and all four joins
    * are SHUFFLED-HASH joins building on the bucket layout — no
    * exchange on any build chain, no sort anywhere (SMJ would sort the
    * probe, and phase 1 join 2's probe IS the wide intermediate:
    * 370 s vs 30 s broadcast at 500k docs, ~60 GB transient spill at
    * 2.5M when it re-sorted; plan-asserted in VerifySpec). No
    * broadcast memory ceiling, executor-count-parallel at any corpus
    * size.
    *
    * The screen only prunes, never decides: [[scored]] re-applies the
    * same score on the exact n_common. */
  private[graft] def verifiedCommon(hp: DataFrame, cands: DataFrame,
      p: PairScore, threshold: Double,
      withSizes: Boolean = false): DataFrame = {
    graft.functions.SetExpressions.register(hp.sparkSession)
    val hs = graft.CacheScope.persist(docHashSets(hp))
    val (est32, est64) = verifyEstimates(hs)
    val fence = broadcastVerifyBytes(hp)
    val screen = p.score(col("c32"), col("na"), col("nb")) >= threshold
    val hs32 = expr("transform(hs, x -> cast(shiftright(x, 32) as int))")
    val common =
      if (est64 <= fence)
        exactCommon(endpointJoin(cands, broadcast(hs))(e =>
          Seq(col("hs").as(s"h$e"), col("n").as(s"n$e"))))
      else if (est32 <= fence)
        // two-phase ON BROADCASTS (round 17): screen against the 32-bit
        // half-size broadcast, confirm against the 64-bit sets of
        // SURVIVOR docs only. Survivors persist because both the
        // doc-restriction semi-join and the confirm joins consume them.
        screenConfirm(cands,
            broadcast(hs.select(col("doc_id"), hs32.as("hs32"), col("n"))),
            screen, graft.CacheScope.persist(_)) { screened =>
          val svDocs = screened.select(col("da").as("doc_id"))
            .union(screened.select(col("db").as("doc_id"))).distinct()
          // survivor-doc ids are 8 B each, bounded by the corpus doc
          // count — always broadcastable; the semi-join is map-only over hs
          val hsSurv = graft.CacheScope.persist(
            hs.join(broadcast(svDocs), Seq("doc_id"), "left_semi")
              .select(col("doc_id"), col("hs")))
          if (verifyEstimates(hsSurv, size(col("hs")).cast("long"))._2 <= fence)
            broadcast(hsSurv)
          else hsSurv.hint("shuffle_hash")
        }
      else {
        val staged = graft.sources.Bucketing.stageBucketed(
            hs.withColumn("hs32", hs32), "vhs",
            hp.sparkSession.sessionState.conf.numShufflePartitions,
            Seq("doc_id"))
          .hint("shuffle_hash")
        screenConfirm(cands, staged, screen, identity)(_ => staged)
      }
    scored(common, p, threshold, withSizes)
  }

  /** The hashed posting index `(hp, dfreq)` of [[jaccardPairs]] and
    * [[containmentPairsCapped]], both persisted: the postings HASHED and
    * shuffled by h exactly ONCE, and their df histogram (h, df). The
    * cached repartition's HashPartitioning satisfies the df groupBy and
    * BOTH sides of a posting self-join (InMemoryRelation preserves the
    * cached plan's partitioning), so the corpus-sized frame crosses the
    * network once as 16 B rows instead of three times as ~50 B string
    * rows — at 2.5M docs the difference between in-flight shuffle files
    * that exceed local disk and ones that fit with margin (PERF.md
    * round 15). df/candidates on h equal those on s up to the 64-bit
    * collision bound [[hashedPostings]] states; the string shingles are
    * never cached or shuffled at all. */
  private def postingIndex(sh: DataFrame): (DataFrame, DataFrame) = {
    val hp = graft.CacheScope.persist(hashedPostings(sh).repartition(col("h")))
    (hp, graft.CacheScope.persist(
      hp.groupBy(col("h")).agg(count(lit(1)).as("df"))))
  }

  /** Distinct candidate pairs `(da, db)`, da < db, of documents sharing
    * a posting `h`: each posting of `a` probes the postings of `b`. */
  private def sharedPostingPairs(a: DataFrame, b: DataFrame): DataFrame =
    a.alias("a").join(b.alias("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()

  /** The pair-mass cap of the df histogram `hist` (`df`, c keys) over
    * `postings` (doc_id, …): the largest df whose cumulative pair mass
    * Σ_{df'≤df} C(df', 2)·c ≤ `budgetPerDoc` × n_docs, as aggregate
    * `mcap` (null if none fits), beside the `more` aggregates. Compared
    * in double arithmetic: a slack budget × n_docs in long arithmetic
    * overflows under ANSI mode. */
  private def pairMassCap(hist: DataFrame, df: String, postings: DataFrame,
      budgetPerDoc: Long, more: Column*): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val d = col(df)
    hist.withColumn("cm", sum(col("c") * d * (d - 1) / 2)
        .over(W.orderBy(d).rowsBetween(W.unboundedPreceding, W.currentRow)))
      .crossJoin(broadcast(postings.agg(countDistinct(col("doc_id")).as("ndocs"))))
      .agg(max(when(col("cm") <=
          lit(budgetPerDoc).cast("double") * col("ndocs").cast("double"), d))
        .as("mcap"), more: _*)
  }

  val P: Long = 2147483647L // 2^31-1, Mersenne prime
  /** k=16 universal hash parameter pairs (odd multipliers). */
  val AS: Seq[Long] = Seq(3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59)
  val BS: Seq[Long] = Seq(1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192, 16384, 32768)
  val K: Int = AS.size

  /** Distinct word n-shingles per document: (doc_id, s). Documents with
    * fewer than `n` tokens contribute no shingles. Narrow projection +
    * one distinct shuffle; output scales with total token count. */
  def ngrams(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, "shingle width must be positive")
    docs.select(col("doc_id"), TextAnalysis.tokens.as("t"))
      .select(col("doc_id"), explode(
        when(size(col("t")) >= n,
          expr(s"transform(sequence(0, size(t)-$n), i -> array_join(slice(t, i+1, $n), ' '))"))
          .otherwise(array().cast("array<string>"))).as("s"))
      .distinct()
  }

  /** Distinct word 3-shingles per document: (doc_id, s) — the MinHash
    * default width. */
  def shingles(docs: DataFrame): DataFrame = ngrams(docs, 3)

  /** Exact dedup by content fingerprint: one keeper (min doc_id) per
    * fingerprint group. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextAnalysis.fingerprint.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** MinHash signatures: k minima of universal hashes over the shingle
    * set. One shuffle (groupBy doc_id), k agg expressions. */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val xm = Scalars.md5Long60(col("s")) % P
    val aggs = AS.indices.map(i =>
      min((lit(AS(i)) * xm + lit(BS(i))) % P).as(s"s$i"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The banded index over MinHash signatures — (doc_id, band_idx,
    * band_val), r=2 rows/band → k/2 bands. This is the frame a
    * production corpus STORES (bucketed on (band_idx, band_val) — the
    * full join key, so co-partitioning needs no subset-key relaxation —
    * via the bucketed sink): incremental dedup joins new batches
    * against it without ever re-shingling the corpus, and without ever
    * shuffling the stored index (plan-asserted in TextDedupSpec). */
  def bandIndex(sigs: DataFrame): DataFrame = {
    val bands = (0 until K / 2).map { b =>
      struct(lit(b).as("band_idx"),
        concat_ws("_", col(s"s${2 * b}"), col(s"s${2 * b + 1}")).as("band_val"))
    }
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("b.band_idx"), col("b.band_val"))
  }

  /** LSH banding over the signatures: docs sharing ≥1 band are
    * candidates. Emits (da, db, n_bands). */
  def lshCandidates(sigs: DataFrame): DataFrame = {
    // persist: both sides of the self-join share this lineage — without
    // it Spark recomputes the shingle+minhash pipeline per side
    // (scope-managed: released by the enclosing CacheScope.scoped)
    val exploded = graft.CacheScope.persist(bandIndex(sigs))
    val a = exploded.alias("a")
    val b = exploded.alias("b")
    a.join(b,
      col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Incremental NEAR-dup dedup — the LSH twin of [[incrementalDedup]]
    * (which is exact-fingerprint): dedup a NEW batch against an
    * already-deduped corpus using the corpus's STORED band index
    * ([[bandIndex]]), never re-touching corpus text.
    * A new document is dropped when any of its bands collides with a
    * corpus index entry, or with a smaller-keyed document of the same
    * batch (the min-id canonical convention — deterministic, no
    * iterative cascade). Output: one row per new document,
    * (doc_id, keep, dup_of) where dup_of is the smallest colliding id.
    *
    * 100 TB shape: the only corpus-side input is the index — at k=16 /
    * r=2 that is 8 rows × ~24 B per corpus doc, ~0.2% of corpus bytes —
    * and the corpus leg is a SEPARATE equi join on exactly
    * (band_idx, band_val), so a corpus index stored through the
    * bucketed sink on those keys ([[graft.sources.Bucketing
    * .stageBucketed]]) joins with NO corpus-side exchange: only the
    * (day-sized) batch's bands shuffle to the index's bucket layout,
    * and the corpus is never scanned, shuffled, or re-hashed
    * (plan-asserted in TextDedupSpec, measured in
    * BENCH_INCREMENTAL_SPLIT.json). Unioning the corpus index with the
    * batch bands BEFORE the join — the previous form — would discard
    * the stored layout, which is why the corpus and same-batch blame
    * legs are separate joins whose results union. New docs with no
    * shingles (< 3 tokens) have no bands and keep trivially, matching
    * [[minhashSignatures]]' domain. */
  def incrementalLshDedup(newDocs: DataFrame,
      corpusIndex: DataFrame): DataFrame = {
    val nb = graft.CacheScope.persist(
      bandIndex(minhashSignatures(shingles(newDocs))))
    // corpus entries always blame; same-batch entries only when their
    // id is smaller. Two joins, not one join against a union: the
    // corpus leg's join keys must line up with the stored index's
    // bucket layout for the exchange-free plan (scaladoc above).
    val corpusBlame = nb.alias("n").join(
      corpusIndex.select(col("doc_id"), col("band_idx"), col("band_val"))
        .alias("o"),
      col("n.band_idx") === col("o.band_idx") &&
        col("n.band_val") === col("o.band_val"))
      .select(col("n.doc_id").as("doc_id"),
        col("o.doc_id").as("dup_of"))
    val batchBlame = nb.alias("n").join(nb.alias("o"),
      col("n.band_idx") === col("o.band_idx") &&
        col("n.band_val") === col("o.band_val") &&
        col("o.doc_id") < col("n.doc_id"))
      .select(col("n.doc_id").as("doc_id"),
        col("o.doc_id").as("dup_of"))
    val blamed = corpusBlame.unionByName(batchBlame)
    // union + min-aggregate rather than a left join against the blame
    // aggregate: identical output (min skips the sentinel nulls), one
    // key shuffle either way — but a left join whose right side is an
    // aggregate on the join key is PROVABLY unique, so a consumer that
    // reads no blame columns (count()) lets Catalyst eliminate the
    // join and with it the entire minhash pipeline; the aggregate form
    // keeps the computation in every consumer's plan
    newDocs.select(col("doc_id"),
        lit(null).cast("long").as("dup_of"))
      .unionByName(blamed)
      .groupBy(col("doc_id")).agg(min(col("dup_of")).as("dup_of"))
      .select(col("doc_id"), col("dup_of").isNull.as("keep"),
        col("dup_of"))
  }

  /** n-gram Jaccard near-dup: inverted-index candidate pairs over
    * frequency-capped shingles, then exact Jaccard (full shingle sets)
    * on candidates only.
    *
    * The candidate join touches ONLY rare postings (df ≤ cap on BOTH
    * sides — a pair shares a rare shingle iff both its postings are in
    * the rare index), bounding join mass to Σ_{df≤cap} C(df, 2). The
    * previous form joined the FULL index and flagged rarity after,
    * which costs the total pair mass Σ C(df, 2): on the dense sf10x
    * synthetic corpus that is 421M vs 39M rows (measured), and it was
    * the one remaining superlinear point (exponent 1.12) of the pair
    * family. Jaccard is computed on the candidates' full hashed sets
    * in-row (see [[docHashSets]]) — output identical to the old form:
    * pairs sharing ≥ 1 rare shingle, Jaccard from full sets.
    *
    * Path choice is ADAPTIVE: when the exact total pair mass (read
    * from the df histogram) is at most `directPairBudget`, the
    * single-pass full-index join is cheaper — the rare-postings
    * machinery costs three extra stages that only pay for themselves
    * once the pair mass, not the stage count, dominates. Both paths
    * emit the identical pair set. */
  def jaccardPairs(sh0: DataFrame, dfCap: Int, threshold: Double,
      directPairBudget: Long = 32000000L): DataFrame = {
    val (hp, dfreq) = postingIndex(sh0)
    // ADAPTIVE DISPATCH on the exact inverted-index pair mass
    // Σ C(df, 2) from the df histogram. Fenced driver-side scalar: a
    // one-row aggregate over dfreq (never row data) — the same
    // histogram machinery as containmentPairsCapped's cost knob, read
    // on the driver because the two plans differ structurally. Below
    // the budget the single-pass full-index join wins (fewer stages:
    // no distinct, no hashed-set build, no verification joins —
    // measured 3.0 vs 4.1 s at sf0.1 where total mass is ~1.5M rows);
    // above it the mass itself is the enemy and the rare-postings +
    // in-row hashed-set path bounds the join to Σ_{df≤cap} C(df, 2)
    // (421M → 39M rows on the dense sf10x corpus, exponent 1.12→0.92).
    val mass = dfreq
      .agg(coalesce(sum(col("df") * (col("df") - lit(1L)) / lit(2L)),
        lit(0.0)).as("m"))
      .head().getDouble(0)
    if (mass <= directPairBudget.toDouble) {
      // small-corpus path: one inverted-index self-join counts shared
      // shingles per pair AND remembers whether any shared shingle is
      // rare — same output contract as the rare-postings path: pairs
      // sharing ≥ 1 rare shingle, n_common / Jaccard over FULL sets.
      // n_common here comes straight from h-equality with NO downstream
      // verify stage, so it is exact only up to the 64-bit collision
      // bound [[hashedPostings]] states (n²/2⁶⁴ — the bound the verify
      // family accepts everywhere)
      val sizes = hp.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val a = hp.join(dfreq, "h").alias("a")
      val pairStats = a.join(hp.alias("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          when(col("a.df") <= dfCap, 1).otherwise(0).as("rare"))
        .groupBy(col("da"), col("db"))
        .agg(count(lit(1)).as("n_common"), max(col("rare")).as("has_rare"))
        .filter(col("has_rare") === 1)
      scored(endpointJoin(pairStats, sizes)(e => Seq(col("n").as(s"n$e"))),
        Jaccard, threshold)
    } else {
      val rare = hp.join(dfreq.filter(col("df") <= dfCap).select(col("h")), "h")
      verifiedCommon(hp, sharedPostingPairs(rare, rare), Jaccard, threshold)
    }
  }

  /** EXACT similarity join by prefix filtering (AllPairs/PPJoin family,
    * Bayardo et al., WWW'07): guaranteed-complete Jaccard-≥-t pairs
    * WITHOUT a df cap and without the all-pairs join.
    *
    * Filter: order each document's shingles rarest-first (global df,
    * shingle text as tiebreak — an ordering, not a global rank: no
    * single-partition window anywhere) and keep the first
    * n − ⌈t·n⌉ + 1 as its prefix. Two sets with Jaccard ≥ t overlap in
    * > n − ⌈t·n⌉ elements, so they MUST share a prefix element —
    * candidates are the prefix inverted-index join, whose postings are
    * short because prefixes hold the rarest shingles. Verification
    * joins each candidate to the two documents' hashed shingle-set
    * rows and intersects in-row (see [[docHashSets]]) for the exact
    * intersection. The oracle is the brute-force all-pairs Jaccard:
    * hash-equality proves the filter lost nothing.
    *
    * `pairBudgetPerDoc` (None = exact, the registered-query mode):
    * when set, the prefix POSTINGS are additionally filtered to the
    * largest prefix-df whose cumulative candidate-pair mass
    * Σ C(df_p, 2) stays ≤ budget × n_docs — the same linear cost bound
    * as [[containmentPairsCapped]]'s mass knob ([[pairMassCap]] over
    * the prefix-df histogram). This trades guaranteed completeness for
    * a candidate join LINEAR in corpus size — the 100 TB operating
    * mode on vocabulary-saturating corpora, where the exact filter's
    * posting mass grows quadratically (measured: the sf100x leg
    * exceeds single-box spill disk uncapped). Recall under the cap is
    * a measured quantity (`q_dedup_prefix_capped_recall` reports it
    * against the exact twin), not a silent loss.
    */
  def prefixJaccardPairs(sh0: DataFrame, threshold: Double,
      pairBudgetPerDoc: Option[Long] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val sh = graft.CacheScope.persist(sh0)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val prefixAll = graft.CacheScope.persist(
      sh.join(dfreq, "s")
        .withColumn("rn", row_number().over(byRarity))
        .join(sizes, "doc_id")
        .filter(col("rn") <=
          col("n") - ceil(lit(threshold) * col("n")) + 1)
        .select(col("doc_id"), col("s")))
    val prefix = pairBudgetPerDoc match {
      case None => prefixAll
      case Some(budget) =>
        // cost knob over the PREFIX postings' own df histogram: keep
        // postings whose prefix-df is within the pair-mass cap (floor:
        // df_p = 2, so genuine near-dup pairs sharing a globally-rare
        // shingle always survive)
        val pdf = graft.CacheScope.persist(
          prefixAll.groupBy(col("s")).agg(count(lit(1)).as("dfp")))
        val cap = pairMassCap(
            pdf.groupBy(col("dfp")).agg(count(lit(1)).as("c")), "dfp", sh, budget)
          .select(greatest(lit(2L), coalesce(col("mcap"), lit(2L))).as("cap"))
        prefixAll.join(pdf, "s").crossJoin(broadcast(cap))
          .filter(col("dfp") <= col("cap"))
          .select(col("doc_id"), col("s"))
    }
    // length-ratio pruning (exactness-preserving): Jaccard ≥ t forces
    // t·max(na,nb) ≤ min(na,nb), so size-mismatched candidates are cut
    // BEFORE the verification joins touch the full shingle sets.
    // The self-join runs on 64-bit fingerprints, not strings: the
    // prefix SELECTION above keeps the oracle-mirrored (df, s) string
    // tie-break, but once the postings are chosen, equality on
    // xxhash64(s) is equality on s up to the collision bound
    // [[hashedPostings]] states — and the join's shuffle rows drop
    // from ~50 B to 16 B (PERF.md round 15)
    val prefH = prefix.select(col("doc_id"), xxhash64(col("s")).as("h"))
    val cands = endpointJoin(sharedPostingPairs(prefH, prefH), sizes)(e =>
        Seq(col("n").as(s"n$e")))
      .filter(least(col("na"), col("nb")) >=
        ceil(lit(threshold) * greatest(col("na"), col("nb"))))
    // exact verification on surviving candidates only, |cands| rows
    // (the helper re-supplies na/nb — identical values to the sizes
    // frame above: both count the doc's distinct shingles)
    verifiedCommon(hashedPostings(sh), cands.select(col("da"), col("db")),
      Jaccard, threshold)
  }

  /** ALL pairs with set containment |A∩B| / min(|A|,|B|) ≥ `threshold`,
    * exactly (PPJoin family, containment predicate) — no df cap, no
    * all-pairs join.
    *
    * Asymmetric prefix filter: only the SMALLER set of a pair needs a
    * prefix. If |A| ≤ |B| and containment ≥ t then B holds ≥ ⌈t·|A|⌉ of
    * A's shingles, i.e. misses at most |A| − ⌈t·|A|⌉ — so any
    * |A| − ⌈t·|A|⌉ + 1 elements of A include a shared one. Candidates =
    * prefix(smaller) ⋈ full-index(larger); probing with each doc's
    * RAREST shingles keeps the touched posting lists short (the same
    * rarity order as the Jaccard prefix, but the larger side cannot be
    * prefixed at all — a tiny doc may sit anywhere inside a huge one,
    * which is also why no length-ratio prune applies). Verification is
    * the in-row hashed-set intersection over surviving candidates
    * (see [[docHashSets]]). The brute-force all-pairs oracle proves
    * the filter lost nothing.
    */
  def prefixContainmentPairs(sh0: DataFrame, threshold: Double,
      withSizes: Boolean = false): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val sh = graft.CacheScope.persist(sh0)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // The sized posting cache is pinned hash(doc_id) at the session
    // partition count (the simhash-band/CC-edge pattern). AQE size-
    // coalesces a cached plan's final stage, and a posting frame smaller
    // than the advisory size collapses to one partition. The probe join
    // below then reads the hot shingle's postings from ONE map task, and
    // AQE can only split a skewed partition along map boundaries, so the
    // hot key's quadratic pair emission runs unsplit in one task. Above
    // the broadcast threshold the pin costs no shuffle: the shuffled join
    // already hashes on doc_id, so Spark drops the repartition and keeps
    // the join's partition count instead.
    val parts = sh.sparkSession.sessionState.conf.numShufflePartitions
    val shn = graft.CacheScope.persist(
      sh.join(sizes, "doc_id").repartition(parts, col("doc_id")))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val prefix = shn.join(dfreq, "s")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col("doc_id"), col("s"), col("n"))
    // the (n, doc_id) lexicographic tiebreak makes exactly one side of
    // every pair the probe, so each qualifying pair is generated once
    val cands = prefix.alias("pa").join(shn.alias("fb"),
        col("pa.s") === col("fb.s") &&
        (col("pa.n") < col("fb.n") ||
          (col("pa.n") === col("fb.n") &&
           col("pa.doc_id") < col("fb.doc_id"))))
      .select(least(col("pa.doc_id"), col("fb.doc_id")).as("da"),
        greatest(col("pa.doc_id"), col("fb.doc_id")).as("db"))
      .distinct()
    verifiedCommon(hashedPostings(sh), cands, Containment, threshold, withSizes)
  }

  /** Recall-bounded containment pairs with a CORPUS-ADAPTIVE rarity
    * cap: candidate pairs must share at least one shingle whose
    * document frequency is ≤ the df-distribution's `dfQuantile`
    * (floored at `minCap`). A fixed cap is corpus-size-blind — shingle
    * df grows with corpus size while the shingle vocabulary saturates
    * (measured on the fixtures: median df 1 → 9 from sf0.01 → sf0.1),
    * so a df ≤ 10 filter that sees half the shingle mass at sf0.1
    * would see almost nothing at a further 10× and recall would
    * silently collapse.
    *
    * The quantile alone bounds RECALL but not COST: the candidate
    * stage emits Σ C(df,2) pairs over kept shingles, and on a corpus
    * whose vocabulary saturates while df grows, a pure df-quantile cap
    * admits quadratically growing pair mass (measured on the synthetic
    * decade: 25 pairs/doc at sf0.01 → 245/doc at sf0.1; at the 100×
    * corpus the posting join spilled past local disk). The cap is
    * therefore the MINIMUM of the recall knob and a cost knob: the
    * largest df whose cumulative pair mass Σ_{df'≤df} C(df',2)·c
    * stays ≤ `pairBudgetPerDoc` × n_docs — a candidate budget LINEAR
    * in corpus size by construction. On growing-vocabulary (real)
    * corpora the mass bound is slack and the quantile decides; on
    * fixed-vocabulary ones cost stays linear and recall is the knob
    * that gives — and the recall gate, not silence, reports it.
    *
    * Both knobs are computed EXACTLY from the df histogram: the only
    * global windows in the operator order that histogram (≤ max(df)
    * rows — a scalar reduction's worth of data, never the corpus), and
    * the resulting one-row cap broadcasts into the candidate filter.
    * Containment is then computed on the FULL shingle sets of
    * surviving candidates, so emitted values are exact; only candidate
    * RECALL is bounded, and `q_dedup_containment_recall` gates it
    * against the guaranteed-complete prefix-filtered twin (measured
    * 1.0 at sf0.001/0.01/0.1, caps 10/10/11; floor 0.95). The postings
    * are hashed and shuffled once ([[postingIndex]]). */
  def containmentPairsCapped(sh0: DataFrame, threshold: Double,
      dfQuantile: Double = 0.99, minCap: Long = 10L,
      pairBudgetPerDoc: Long = 128L, withSizes: Boolean = false): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val (hp, dfreq) = postingIndex(sh0)
    val hist = dfreq.groupBy(col("df")).agg(count(lit(1)).as("c"))
      .withColumn("cc", sum(col("c")).over(W.orderBy(col("df"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("nsh", sum(col("c")).over(W.orderBy(col("df"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
    val cap = pairMassCap(hist, "df", hp, pairBudgetPerDoc,
        min(when(col("cc") >= ceil(lit(dfQuantile) * col("nsh")),
          col("df"))).as("qcap"))
      .select(greatest(lit(minCap),
        least(col("qcap"), coalesce(col("mcap"), lit(minCap)))).as("cap"))
    val a = hp.join(dfreq, "h").crossJoin(broadcast(cap))
      .filter(col("df") <= col("cap"))
    verifiedCommon(hp, sharedPostingPairs(a, hp), Containment, threshold,
      withSizes)
  }

  /** The two span operators' shared input, both persisted since each
    * is read twice in one plan: `toks`, `(doc_id, t, n_tokens)` (the
    * token array and its length), by `grams` and by the per-doc join;
    * `grams`, `(doc_id, pos, g)` (one row per k-token gram starting at
    * token `pos`), by the gram-keyed aggregate and the join back.
    *
    * The gram string exists only to be grouped and joined on — its
    * bytes never reach the output — so it is folded to a 64-bit
    * xxhash64 BEFORE the cache and both gram-keyed exchanges (r19,
    * guide §2.3 "shuffle keys and metadata instead of payloads"):
    * ~8 B/row crosses the network instead of the ~40+ B joined token
    * string, and the cached frame shrinks the same way. Cross-doc
    * detection and keeper election on the hash equal those on the
    * string up to the 64-bit collision bound [[hashedPostings]]
    * documents. */
  private def positionalGrams(docs: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val toks = graft.CacheScope.persist(
      docs.select(col("doc_id"), TextAnalysis.tokens.as("t"))
        .select(col("doc_id"), col("t"),
          size(col("t")).cast("long").as("n_tokens")))
    val grams = graft.CacheScope.persist(
      toks.select(col("doc_id"), posexplode(expr(
          s"""CASE WHEN size(t) >= $k THEN
                transform(sequence(0, size(t) - $k),
                  i -> array_join(slice(t, i + 1, $k), ' '))
              ELSE array() END""")).as(Seq("pos", "g")))
        .select(col("doc_id"), col("pos"), xxhash64(col("g")).as("g")))
    (toks, grams)
  }

  /** Cross-document repeated-SPAN profile — the sub-document exact
    * dedup signal (the ExactSubstr idea: dedup repeated token spans,
    * not just whole documents, because boilerplate and quotations
    * recur inside otherwise-unique text). Every k-token gram occurring
    * in MORE THAN ONE document marks its k token positions as
    * duplicated; per document the output reports how many of its
    * tokens sit inside at least one such cross-document span and the
    * covered fraction — the trim/cut signal for mostly-copied text.
    *
    * Dataflow: positional k-grams (narrow per-row expression), one
    * groupBy on the gram for cross-doc frequency, a semi join back,
    * and a positional explode bounded by k × duplicated occurrences,
    * then one per-doc count — no all-pairs stage, no window over the
    * corpus; at 100 TB every stage is key-partitioned and linear. */
  def repeatedSpanProfile(docs: DataFrame, k: Int = 8): DataFrame = {
    val (toks, grams) = positionalGrams(docs, k)
    val crossDoc = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("g"))
    val covered = grams.join(crossDoc, Seq("g"), "left_semi")
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("tp"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_rep_tokens"))
    toks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_rep_tokens"), lit(0L)).as("n_rep_tokens"),
        // zero-token guard: see removeRepeatedSpans — Spark NULL vs
        // DuckDB NaN/inf on a 0/0 row would diverge at the oracle.
        when(col("n_tokens") > 0,
            round(coalesce(col("n_rep_tokens"), lit(0L)).cast("double") /
              col("n_tokens"), 6))
          .otherwise(lit(0.0)).as("rep_frac"),
        (coalesce(col("n_rep_tokens"), lit(0L)).cast("double") >=
          lit(0.5) * col("n_tokens")).as("mostly_dup"))
  }

  /** Cross-document repeated-span REMOVAL — the destructive half of
    * ExactSubstr dedup (in the spirit of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"). Every k-token gram
    * occurring in more than one document elects a keeper (min doc_id);
    * in every other document the gram's k token positions are cut, and
    * the surviving tokens are reassembled in order. Fidelity scope vs
    * the paper: the keeper DOCUMENT retains every occurrence of the
    * span (not just one), and spans repeated only WITHIN a single
    * document are never cut — this is cross-document span removal, a
    * deliberately coarser granularity than the paper's suffix-array
    * single-occurrence guarantee. Output per document: token counts
    * before / removed, the removed fraction, and the cleaned text
    * itself (the pipeline consumes the text; the registered query
    * hashes it for the oracle gate).
    *
    * Dataflow mirrors [[repeatedSpanProfile]] — positional grams, one
    * gram-keyed groupBy for (cross-doc frequency, keeper), an equi join
    * back bounded by duplicated occurrences, then ONE per-doc
    * collect_set of cut positions (bounded by document length, never by
    * corpus size) and a columnar filter-by-index reassembly — no
    * all-pairs stage, no corpus-wide window, every shuffle
    * key-partitioned; the shape is unchanged at 100 TB. */
  def removeRepeatedSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    val (toks, grams) = positionalGrams(docs, k)
    val keepers = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"),
        min(col("doc_id")).as("keeper"))
      .filter(col("nd") > 1)
      .select(col("g"), col("keeper"))
    val cuts = grams.join(keepers, Seq("g"))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("tp"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("tp")).as("cut"))
    toks.join(cuts, Seq("doc_id"), "left")
      .withColumn("cut",
        coalesce(col("cut"), expr("CAST(array() AS ARRAY<INT>)")))
      .select(col("doc_id"), col("n_tokens"),
        size(col("cut")).cast("long").as("n_removed"),
        // n_tokens = 0 (empty/whitespace-only text) must not divide:
        // Spark yields NULL but DuckDB can yield NaN/inf, so the
        // oracle hash would diverge on such a row.
        when(col("n_tokens") > 0,
            round(size(col("cut")).cast("double") / col("n_tokens"), 6))
          .otherwise(lit(0.0)).as("removed_frac"),
        expr("array_join(filter(t, (x, i) -> NOT array_contains(cut, i)), ' ')")
          .as("clean_text"))
  }

  /** Incremental corpus update: dedup a NEW batch against the existing
    * corpus without re-fingerprinting the corpus' documents pairwise —
    * the daily-ingest shape. Within-batch dupes collapse to the min
    * doc_id per fingerprint; batch fingerprints already in the corpus
    * are anti-joined away. Two key-partitioned shuffles (groupBy fp +
    * anti join on fp); at 100 TB the corpus side is a pre-built
    * fingerprint index scan, never the raw text. */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val corpusFp = corpus.select(TextAnalysis.fingerprint.as("fp")).distinct()
    batch.select(col("doc_id"), TextAnalysis.fingerprint.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_in_batch"))
      .join(corpusFp, Seq("fp"), "left_anti")
  }

  /** [[connectedComponents]]' shipped edge bound: graphs with at most
    * this many directed edges take the driver-side union-find. */
  private[graft] val DefaultSmallGraphMaxEdges: Long = 1L << 22

  /** Connected components over an undirected candidate-pair edge list
    * `(da, db)` → `(doc_id, component)` with component = min doc_id
    * reachable. This is the step that turns LSH/SimHash candidate PAIRS
    * into dedup CLUSTERS (a↔b and b↔c must collapse to one group even
    * though (a,c) was never emitted as a pair).
    *
    * Dataflow: iterative min-label propagation (hash-min) with pointer
    * doubling — each round every node takes the min of its own and its
    * neighbors' labels, then compresses one indirection (label := label
    * of label), so convergence is O(log diameter) rounds, not
    * O(diameter). Banding-derived dup clusters are near-cliques, so
    * real corpora converge in 2-3 rounds. Per round: two equi-joins +
    * one groupBy; the corpus-sized edge side of the neighbor-min join
    * rides the pinned cached hash(dst) layout (no Exchange, no Sort —
    * see the body comment), so only node-sized frames shuffle.
    *
    * Each round's frame is cut (the rule in [[graft.CacheScope]]); the
    * driver loop reads one scalar emptiness probe per round
    * (convergence), never row data.
    *
    * Size-adaptive dispatch (same shape as `jaccardPairs`' pair-mass
    * dispatch): the iterative loop costs ~10 fixed job latencies (pair
    * cut, init cut + 2 cuts and a convergence probe per round) no
    * matter how small the graph is, which dominates end-to-end time on
    * post-LSH candidate graphs — banding emits FAR fewer pairs than
    * documents. Below `smallGraphMaxEdges` directed edges the component
    * labels are computed by a driver-side union-find over ONE bounded
    * collect of the pair rows as given (union-find ignores orientation,
    * so the symmetrized edge cache is built only when the loop runs);
    * above it, the distributed loop runs unchanged. Both paths emit the
    * identical (doc_id, component=min reachable) assignment — pinned
    * row-for-row by `Round10Spec`. The collect is FENCED: at most
    * `smallGraphMaxEdges`/2 pairs of two longs (≤64 MB at the default)
    * via a single limit-probe job — if the probe comes back under the
    * bound it IS the complete pair set (limit only truncates past it),
    * so the small path pays one job total; past the bound the probe
    * short-circuits (CollectLimit scans partitions incrementally) and
    * the distributed path runs — at 100 TB that is always the case.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      smallGraphMaxEdges: Long = DefaultSmallGraphMaxEdges): DataFrame = {
    val longKeyed = Seq("da", "db").forall(
      pairs.schema(_).dataType == org.apache.spark.sql.types.LongType)
    if (longKeyed) {
      // clamped: a fence ≥ 2^32 must mean "always union-find", not wrap
      // through Int to a negative bound that silently takes the loop
      val maxPairs =
        math.max(0L, math.min(smallGraphMaxEdges / 2, Int.MaxValue - 1L)).toInt
      val probe = pairs.where(col("da").isNotNull && col("db").isNotNull)
        .select(col("da"), col("db"))
        .limit(maxPairs + 1).collect()
      if (probe.length <= maxPairs)
        return unionFindComponents(pairs.sparkSession, probe)
    }
    // The symmetrized edge frame is cached hash-partitioned AND sorted on
    // `dst` — the key of BOTH the init aggregation and every round's
    // neighbor-min join — with a PINNED count (REPARTITION_BY_NUM, the
    // simhashPairs pattern: AQE never overrides it). Each min-label round
    // then reuses the cached layout on the edge side with no Exchange and
    // no per-round Sort; only the node-sized label frame moves (r19 —
    // the r18 shape re-shuffled the corpus-sized edge frame by dst in
    // EVERY round, the flagship's dominant 100 TB scale term).
    val edges = ccEdges(pairs)
    // initialization folds the first neighbor-min round in for free: one
    // groupBy instead of a join + cut round. Star-shaped clusters
    // (the common LSH case) converge one full round earlier. Keyed on
    // `dst` (identical by symmetry: the edge frame carries both
    // orientations, so dst's src-neighbors ARE the node's neighbor set)
    // to reuse the cached hash(dst) layout — zero Exchange at init.
    var labels = graft.CacheScope.cut(edges.groupBy(col("dst"))
      .agg(min(col("src")).as("nb0"))
      .select(col("dst").as("node"),
        least(col("dst"), col("nb0")).as("component")))
    var iter = 0
    var converged = labels.isEmpty
    while (!converged && iter < maxIter) {
      val nbMin = ccNeighborMin(edges, labels)
      // cut: the doubling self-join hashes its two sides on DIFFERENT
      // keys (x.component vs y.node), so exchange reuse can never kick
      // in and an un-materialized `stepped` — two joins deep — would be
      // computed twice per round
      val stepped = graft.CacheScope.cut(labels
        .join(nbMin, labels("node") === nbMin("src"))
        .select(labels("node"),
          least(labels("component"), col("nb_min")).as("component"),
          (col("nb_min") < labels("component")).as("__chg")))
      // pointer doubling: component values are themselves nodes, so one
      // extra self-join jumps each label to its label's label
      val x = stepped.alias("x")
      val y = stepped.alias("y")
      val next = graft.CacheScope.cut(x
        .join(y, col("x.component") === col("y.node"))
        .select(col("x.node").as("node"),
          col("y.component").as("component"),
          (col("x.__chg") || col("y.component") < col("x.component"))
            .as("__chg")))
      converged = next.filter(col("__chg")).isEmpty
      labels = next.drop("__chg")
      iter += 1
    }
    labels.select(col("node").as("doc_id"), col("component"))
  }

  /** The CC loop's pinned co-partitioned edge cache (see the
    * [[connectedComponents]] body comment) — `private[graft]` so the
    * plan-assertion spec exercises the PRODUCTION frame, not a mirror
    * that can drift. The pair rows are cut first: the cache's plan then
    * starts at a scan of the cut, not at the pairs' own lineage (the
    * LSH band cache of `lshCandidates`), which every round's plan would
    * otherwise print nested inside it. */
  private[graft] def ccEdges(pairs: DataFrame): DataFrame = {
    val parts = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val p = graft.CacheScope.cut(pairs.select(col("da"), col("db")))
    graft.CacheScope.persist(
      p.select(col("da").as("src"), col("db").as("dst"))
        .union(p.select(col("db").as("src"), col("da").as("dst")))
        .repartition(parts, col("dst"))
        .sortWithinPartitions(col("dst")))
  }

  /** One min-label round's neighbor-min aggregation over the pinned
    * edge cache — the join whose edge side must reuse the cached
    * hash(dst) layout with no Exchange and no Sort (the r19 cut: the
    * corpus-sized frame re-shuffled here EVERY round before). Factored
    * `private[graft]` for the same no-mirror reason as [[ccEdges]]. */
  private[graft] def ccNeighborMin(edges: DataFrame,
      labels: DataFrame): DataFrame =
    edges.join(labels, edges("dst") === labels("node"))
      .groupBy(col("src")).agg(min(col("component")).as("nb_min"))

  /** Small-graph leg of `connectedComponents`: exact union-find with
    * path compression over the probed pair rows, representative =
    * min node id (identical labeling to the distributed min-label loop).
    * Output covers every node that appears in an edge, like the
    * distributed path's `groupBy(src)` over the symmetrized edge list. */
  private def unionFindComponents(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    var i = 0
    while (i < rows.length) {
      val a = rows(i).getLong(0); val b = rows(i).getLong(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { // union by min: the larger root points at the smaller
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
      i += 1
    }
    val out = new Array[(Long, Long)](parent.size())
    val it = parent.keySet().iterator()
    var j = 0
    while (it.hasNext) { val n = it.next(); out(j) = (n, find(n)); j += 1 }
    import spark.implicits._
    spark.createDataset(out.toSeq).toDF("doc_id", "component")
  }

  /** Canonical-keeper selection: one surviving document per duplicate
    * cluster, chosen by quality (ties broken by doc_id so the choice is
    * deterministic). Documents in no candidate pair are their own
    * singleton cluster. Output: (component, keep_id, keep_quality,
    * n_docs). Shuffles once on component (window + count share the
    * partitioning). */
  def canonicalPerCluster(docs: DataFrame, components: DataFrame,
      quality: Column): DataFrame = {
    val cc = components.withColumnRenamed("doc_id", "cc_id")
    val labeled = docs.select(col("doc_id"), quality.as("q"))
      .join(cc, col("doc_id") === col("cc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"),
        col("q"))
    graft.operators.TopK.top1PerKey(labeled.withColumn("n_docs",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("component")))),
        Seq(col("component")),
        Seq(col("q").desc, col("doc_id").asc))
      .select(col("component"), col("doc_id").as("keep_id"),
        col("q").as("keep_quality"), col("n_docs"))
  }

  /** 60-bit SimHash over the distinct token set: per-bit vote sums of
    * ±1 weighted by the token hash's bit, then reassembled. One explode +
    * one groupBy with 60 codegen'd sum expressions.
    *
    * 60 bits (every bit of the md5-derived token hash), not 32: the
    * fingerprint width bounds the RANDOM near-collision rate, which is
    * what the banded pair join's emission scales with. At 500k docs a
    * 32-bit fingerprint emits ~n²/2 × P[hamming ≤ 6 | 32] ≈ 33M pure
    * chance pairs — the measured superlinear candidate growth of the
    * first scaling decade — while at 60 bits the same expectation is
    * ~single digits, so candidates track the corpus's TRUE near-dup
    * density (Manku et al., WWW'07 use 64-bit fingerprints for the same
    * reason). Values stay below 2^60, so the column is non-negative in
    * both engines and band extraction needs no sign handling. */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(TextAnalysis.tokens)).as("tok"))
      .withColumn("h", Scalars.md5Long60(col("tok")))
    val votes = (0 until 60).map(j =>
      sum(when(shiftright(col("h"), j) % 2 === 1, 1).otherwise(-1)).as(s"v$j"))
    val voted = toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val bits = (0 until 60).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    voted.select(col("doc_id"), bits.reduce(_ + _).as("simhash"))
  }

  /** Bounded-emission near-dup candidates: per-document top-m nearest
    * neighbors by SimHash Hamming distance, among the banded candidates
    * within `maxHamming`. The unbounded pair join's output grows with
    * the corpus's true duplicate density (measured exponent 1.05 over
    * the sf0.1→sf1x decade — the answer's size, not operator cost); a
    * 100 TB consumer needs per-document emission bounds, so this
    * variant caps fan-out at n_docs × m rows with a deterministic
    * (hamming, neighbor-id) order. The rank filter compiles to
    * WindowGroupLimit — a partial per-key top-m below the shuffle, so
    * no partition ever materializes an unbounded neighbor list
    * (plan-asserted). Recall vs the unbounded form is gated by
    * `q_dedup_topm_recall`. */
  def simhashTopM(sh: DataFrame, maxHamming: Int, m: Int): DataFrame = {
    require(m >= 1, "per-document neighbor budget must be positive")
    // persisted: the symmetrization reads the pair join from BOTH union
    // branches — without it the banded self-join runs twice
    val pairs = graft.CacheScope.persist(simhashPairs(sh, maxHamming))
    val sym = pairs
      .select(col("da").as("doc_id"), col("db").as("nb"), col("hamming"))
      .unionByName(pairs
        .select(col("db").as("doc_id"), col("da").as("nb"), col("hamming")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("hamming"), col("nb"))
    sym.withColumn("nb_rank", row_number().over(w).cast("long"))
      .filter(col("nb_rank") <= m)
  }

  /** Circular 15-bit windows of the 60-bit fingerprint at the given
    * bit offsets: rotate-right by `o`, keep the low 15 bits. The
    * wrap-around low bits are masked BEFORE the up-shift so no
    * intermediate overflows a signed 64-bit value in either engine. */
  val bandOffsets: Seq[Int] = Seq(0, 15, 30, 45, 7, 22, 37, 52)

  /** SimHash near-dup candidates: two rotated 4-window covers of the
    * 60-bit fingerprint (15-bit circular windows at offsets 0/15/30/45
    * and 7/22/37/52 — Manku et al.'s rotated-table design). Each cover
    * is pigeonhole-complete for Hamming ≤ 3, and a pair at 4..6 misses
    * only if EVERY one of the 8 windows is touched; candidates are
    * verified with exact bit_count(xor).
    *
    * Band width matters for scale: expected bucket size is n/2^15 per
    * window value, so raw join emission is ~8·n²/2^16 — at 500k docs
    * that is ~15M rows, vs ~2G under the old 8-bit bands whose 256-way
    * buckets made the self-join quadratic-heavy (and whose 32-bit
    * fingerprint emitted tens of millions of pure chance pairs). The
    * hamming filter runs before the cross-band distinct so only true
    * radius candidates reach the shuffle. */
  def simhashPairs(sh: DataFrame, maxHamming: Int): DataFrame = {
    // The BANDED frame is cached hash-partitioned on the full join key
    // with a PINNED partition count (r18): the self-join below then
    // reuses the cached partitioning on both sides — no exchange — and
    // the per-candidate bit_count(xor) work (the stage's CPU, ~8·n²/2¹⁶
    // candidate rows) keeps the session's full task parallelism. The
    // pin (REPARTITION_BY_NUM) matters because this frame is tiny in
    // BYTES while heavy in downstream CPU per row — exactly the shape
    // size-based AQE coalescing under-parallelizes (the cached-plan
    // re-optimization the session now enables would otherwise collapse
    // it to one partition).
    val parts = sh.sparkSession.sessionState.conf.numShufflePartitions
    val banded = graft.CacheScope.persist(sh
      .select(col("doc_id"), col("simhash"),
        explode(array(bandOffsets.map { o =>
          val rot = shiftright(col("simhash"), o)
            .bitwiseOR(shiftleft(col("simhash").bitwiseAND(lit((1L << o) - 1)),
              60 - o))
          struct(lit(o).as("band_idx"), (rot % 32768).as("band_val"))
        }: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band_idx"), col("b.band_val"))
      .repartition(parts, col("band_idx"), col("band_val")))
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
      col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
