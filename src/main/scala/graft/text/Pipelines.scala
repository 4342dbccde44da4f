package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared multi-stage curation compositions — the stage wiring used by
  * both the registered pretrain twins (`q_pretrain_full/_capped`) and
  * the curation flagship (`Flagship.curationPipeline`), factored so the
  * two cannot drift apart on thresholds or join kinds.
  */
object Pipelines {

  /** Stage-seam probe hook (round-18 verdict #3). The flagship
    * composition's decade exponent steepened 0.499 → 0.92/decade
    * between rungs, and naming the stage that drives a reading like
    * that needs PER-STAGE walls from the PRODUCTION composition — not
    * from a probe-local mirror of it (the r15 `docHashSetsProbe`
    * lesson: a mirror drifts). The composition calls the probe at each
    * stage seam with a stable stage name and the seam's frame; the
    * default is the identity, so production plans are untouched.
    * `LegBench`'s `flagship` family passes a materializing probe
    * (cut + count + delta clock) so all work since the previous
    * seam — including driver-side segments like `Distill.trainGate`'s
    * GD rounds — lands in the named stage's wall. Attribution mode
    * therefore materializes each seam; its per-stage walls sum to an
    * end-to-end that is checkable against the unprobed run. */
  type StageProbe = (String, DataFrame) => DataFrame
  val noProbe: StageProbe = (_, df) => df

  /** Stages 1–4 of the pretrain curation ladder over the raw corpus
    * (heldout slice `src0` excluded up front, used later as the
    * decontamination benchmark):
    * (1) EXACT containment dedup — a ≥0.9-contained document is a
    *     quote/subset; the SMALLER side of each pair drops (tie →
    *     larger doc_id). `capped` picks the candidate pass: the
    *     guaranteed-complete prefix filter, or the adaptive-df-capped
    *     mode whose candidate mass is ≤ 128·n_docs by construction —
    *     the 100 TB operating path (the exact filter's posting mass is
    *     the measured single-box spill ceiling, PERF.md r10/11).
    * (2) sub-document repeated-span gate (ExactSubstr shape: ≥ half
    *     the tokens inside cross-document 8-gram spans → drop);
    * (3) LSH/CC canonical whole-document near-dup on the survivors;
    * (4) 3-gram decontamination vs the `src0` slice.
    * Returns the cleaned corpus rows (full document columns). Every
    * stage is individually oracle-proven by its own registered query;
    * the composed chain is hash-checked end-to-end by the pretrain and
    * flagship queries. */
  def lexicalClean(docs: DataFrame, capped: Boolean,
      probe: StageProbe = noProbe): DataFrame = {
    // The four frames later stages re-reference (corpus0, shC, corpus1,
    // keepers) are cut on doc_id (the rule in CacheScope), pinned
    // hash(doc_id) at the session partition count. The pin matters for
    // two reasons. Unpinned, the corpus materializes at the scan's split
    // count (one split for a small parquet file) and every tokenize-heavy
    // consumer (shingles, repeatedSpanProfile, canonicalPerCluster's
    // quality score) runs on ONE core — the r19 event log showed a 10.4 s
    // single-task stage doing exactly that. And the stage-1/3/4 anti,
    // semi and equi joins on doc_id read the cut side with no further
    // Exchange.
    val corpus0 = graft.CacheScope.cut(
      docs.where(col("source") =!= "src0"), "doc_id")
    // signal 1: containment pairs → drop the smaller side
    // (withSizes: the pair frame already carries the exact set sizes,
    // so no re-aggregation of the shingle frame is needed here)
    val shC = graft.CacheScope.cut(Dedup.shingles(corpus0), "doc_id")
    val cpairs =
      if (capped) Dedup.containmentPairsCapped(shC, 0.9, withSizes = true)
      else Dedup.prefixContainmentPairs(shC, 0.9, withSizes = true)
    val cdrops = probe("s1_containment_drops", cpairs
      .select(when(col("na") < col("nb"), col("da"))
        .when(col("nb") < col("na"), col("db"))
        .otherwise(greatest(col("da"), col("db"))).as("doc_id")))
    // signal 2: mostly-copied text (repeated-span profile)
    val spanDrops = probe("s2_span_drops",
      Dedup.repeatedSpanProfile(corpus0, k = 8)
        .filter(col("mostly_dup")).select(col("doc_id")))
    val corpus1 = probe("s3_lexical_survivors", graft.CacheScope.cut(
      corpus0.join(cdrops.unionByName(spanDrops).distinct(),
          Seq("doc_id"), "left_anti"), "doc_id"))
    // stage 3: cluster-level near-dup on the survivors. Shingling is
    // per-document, so shingles(corpus1) ≡ the stage-1 frame filtered
    // to the survivors — one semi join on the CUT shC instead of a
    // second tokenize + explode + distinct over the corpus
    val sh1 = shC.join(corpus1.select(col("doc_id")), Seq("doc_id"),
      "left_semi")
    val cc = Dedup.connectedComponents(Dedup.lshCandidates(
      Dedup.minhashSignatures(sh1))
      .select(col("da"), col("db")))
    // keepers cut: consumed by corpus2 twice (decontamination profile +
    // final anti join) and by the stage-4 shingle filter
    val keepers = probe("s4_cc_keepers", graft.CacheScope.cut(
      Dedup.canonicalPerCluster(corpus1, cc, TextAnalysis.qualityScore)
        .select(col("keep_id").as("doc_id")), "doc_id"))
    val corpus2 = corpus1.join(keepers, "doc_id")
    val bench = docs.where(col("source") === "src0")
    // stage 4: decontamination probes the SAME cut shingle frame
    // (keepers ⊆ corpus1 ⊆ corpus0, so the semi join is exactly
    // shingles(corpus2)); removal is the same anti join as
    // Decontaminate.removeContaminated
    val contaminated = probe("s5_decontaminate_hits",
      Decontaminate.contaminationFromShingles(
          shC.join(keepers, Seq("doc_id"), "left_semi"), bench,
          n = 3, rateThreshold = 0.2)
        .filter(col("is_contaminated") === 1L)
        .select(col("doc_id")))
    corpus2.join(contaminated, Seq("doc_id"), "left_anti")
  }
}
