package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.sources.{Bucketing, Tables}
import graft.text.{Dedup, TextAnalysis}
import graft.similarity.Knn

class TextDedupSpec extends SparkSuite {
  import spark.implicits._

  lazy val docs = Tables.load(spark, sf, "documents")

  /** Every sort-merge-join side DIRECTLY reading a bucketed file scan
    * must consume the bucket layout as-is: no exchange, no sort, in the
    * chain between the join and the scan. Returns how many such sides
    * were checked. */
  private def assertBucketSidesClean(plan: SparkPlan): Int = {
    val sides = plan.collect { case j: SortMergeJoinExec => j }
      .flatMap(j => Seq(j.left, j.right))
      .flatMap(chainToBucketScan)
    sides.foreach { case (chain, _) =>
      assert(!chain.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"bucketed join side re-shuffles:\n${chain.head}")
      assert(!chain.exists(_.isInstanceOf[SortExec]),
        s"bucketed join side re-sorts:\n${chain.head}")
    }
    sides.size
  }

  test("minhash signatures: k columns, deterministic across runs") {
    val sig1 = Dedup.minhashSignatures(Dedup.shingles(docs))
    assert(sig1.columns.length == Dedup.K + 1)
    val sig2 = Dedup.minhashSignatures(Dedup.shingles(docs))
    assert(sig1.except(sig2).count() == 0)
  }

  test("jaccard pairs are within [0.5, 1] and symmetric-free (a<b)") {
    val p = Dedup.jaccardPairs(Dedup.shingles(docs), 10, 0.5)
      .select("da", "db", "jaccard").as[(Long, Long, Double)].collect()
    assert(p.forall { case (a, b, j) => a < b && j >= 0.5 && j <= 1.0 })
  }

  test("LSH candidates ⊇ high-jaccard pairs (recall at J≥0.8)") {
    val strong = Dedup.jaccardPairs(Dedup.shingles(docs), 10, 0.8)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val cand = Dedup.lshCandidates(Dedup.minhashSignatures(Dedup.shingles(docs)))
      .select("da", "db").as[(Long, Long)].collect().toSet
    val missed = strong -- cand
    assert(missed.isEmpty, s"LSH missed strong pairs: $missed")
  }

  test("simhash is 60-bit and non-negative") {
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect()
    assert(sh.forall { case (_, h) => h >= 0 && h < (1L << 60) })
  }

  test("exact dedup keeps one id per fingerprint") {
    val d = Dedup.exactDedup(docs)
    assert(d.count() == d.select("fp").distinct().count())
  }

  test("lang id picks a deterministic label") {
    val langs = docs.select(TextAnalysis.langIdExpr(TextAnalysis.tokens).as("l"))
      .distinct().as[String].collect().toSet
    assert(langs.subsetOf(Set("en", "es", "de", "fr", "und")))
  }

  test("knn: brute-force rank-1 neighbor has the max cosine") {
    val emb = Tables.load(spark, sf, "embeddings")
    val top = Knn.bruteForceTopK(emb, col("vec_id") < 3, 10)
    val r1 = top.filter(col("rank") === 1).select("qid", "cos_r")
      .as[(Long, Double)].collect().toMap
    val all = top.groupBy("qid").agg(max("cos_r").as("m"))
      .as[(Long, Double)].collect().toMap
    assert(r1 == all)
  }

  test("lsh knn results are a subset of brute-force candidates per bucket") {
    val emb = Tables.load(spark, sf, "embeddings")
    val n = Knn.lshTopK(emb, col("vec_id") < 5, 5, 8).count()
    assert(n >= 0) // shape check; correctness is oracle-checked
  }

  test("incremental LSH: bucketed stored index joins with no corpus-side exchange") {
    CacheScope.scoped {
      val corpus = docs.where(col("doc_id") % 4 =!= 0)
      val batch = docs.where(col("doc_id") % 4 === 0)
      // the stored layout: bucketed on the FULL corpus-leg join key
      val storedIdx = Bucketing.stageBucketed(
        Dedup.bandIndex(Dedup.minhashSignatures(Dedup.shingles(corpus))),
        "text_dedup_idx", 4, Seq("band_idx", "band_val"))
      val plan = staticPlan(Dedup.incrementalLshDedup(batch, storedIdx))
      // exactly one SMJ side reads the bucketed index (the corpus leg);
      // the batch-vs-batch leg joins two in-memory band frames
      assert(assertBucketSidesClean(plan) == 1, plan.toString.take(2000))
    }
  }

  test("incremental LSH: stored bucketed index and raw index agree row-for-row") {
    CacheScope.scoped {
      val corpus = docs.where(col("doc_id") % 4 =!= 0)
      val batch = docs.where(col("doc_id") % 4 === 0)
      val rawIdx = Dedup.bandIndex(
        Dedup.minhashSignatures(Dedup.shingles(corpus)))
      val viaRaw = Dedup.incrementalLshDedup(batch, rawIdx)
        .collect().toSet
      val storedIdx = Bucketing.stageBucketed(rawIdx, "text_dedup_eq", 4,
        Seq("band_idx", "band_val"))
      val viaStored = Dedup.incrementalLshDedup(batch, storedIdx)
        .collect().toSet
      assert(viaStored == viaRaw)
      assert(viaRaw.nonEmpty)
    }
  }
}
