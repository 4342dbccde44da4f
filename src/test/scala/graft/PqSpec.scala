package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.similarity.Pq
import graft.sources.Tables

/** Product-quantization invariants at the smallest SF. */
class PqSpec extends SparkSuite {
  import spark.implicits._

  test("codebook vectors encode to their own centroid in every subspace") {
    val emb = Tables.load(spark, sf, "embeddings")
    val codes = Pq.encode(emb)
      .where(col("vec_id") < 16)
      .as[(Long, Long)].collect().toMap
    // vec c's sub-vectors ARE centroid c: distance 0, tiebreak cid —
    // so every 4-bit nibble must equal c (packed: c * 0x11111111)
    for (c <- 0L until 16L)
      assert(codes(c) == c * 0x11111111L,
        s"centroid $c packed as ${codes(c).toHexString}")
  }

  test("packed codes stay within 32 bits") {
    val emb = Tables.load(spark, sf, "embeddings")
    val bad = Pq.encode(emb)
      .where(col("pq_code") < 0 || col("pq_code") > 0xFFFFFFFFL)
      .count()
    assert(bad == 0)
  }

  test("Kmeans.fit partitions the whole corpus across <= k clusters") {
    val emb = Tables.load(spark, sf, "embeddings")
    val out = graft.similarity.Kmeans.fit(emb, k = 4, iters = 2)
      .select(col("cid"), col("n_members"), size(col("cv")).as("d"))
      .as[(Long, Long, Int)].collect()
    assert(out.length <= 4 && out.nonEmpty)
    assert(out.map(_._2).sum == emb.count()) // every vector assigned once
    assert(out.forall(_._3 == 64))           // centroids keep the dim
    assert(out.forall(r => r._1 >= 0 && r._1 < 4))
  }

  test("ADC ranking is dense, per-query, and monotone in distance") {
    val out = Pq.adcTopK(Tables.load(spark, sf, "embeddings"), spark,
        queryPred = col("vec_id") < 3, k = 5)
      .select("qid", "cid", "rank", "adc_r")
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1)
    assert(out.keySet == Set(0L, 1L, 2L))
    out.values.foreach { rows =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to 5L)) // dense ranks
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.toSeq) // monotone
      assert(!sorted.exists(r => r._2 == r._1)) // self excluded
    }
  }

  test("IVF-PQ rerank reads the trained codebook from its cut, not a cache") {
    CacheScope.scoped {
      val out = Pq.ivfPqRerankTopK(Tables.load(spark, sf, "embeddings"),
        spark, queryPred = col("vec_id") < 3, k = 5)
      val cached = out.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.output.map(_.name)
      }
      // the sub-vector and full-vector frames stay persisted (each is
      // read by several joins); the codebook (cid, s, cv) is not
      assert(cached.nonEmpty)
      assert(!cached.exists(_.contains("cv")), cached)
    }
  }
}
