package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.Kmeans

/** Kmeans' trainer contract: one Lloyd round loop.
  *
  * `Kmeans.fit` is the one-group case of `fitGrouped`. The standalone
  * round loop it replaced is kept below verbatim as the reference: on the
  * fixture at k = 8 and k = 100, with k above the vector count, with
  * duplicate vectors (distance ties) and on an empty frame, both must
  * return the same centroid ids, the same `n_members` and the same
  * centroid vectors bit for bit.
  */
class KmeansSpec extends SparkSuite {
  import spark.implicits._

  // ---- reference: the single-group Lloyd loop, verbatim ----

  private def referenceFit(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters > 0, "k-means needs k > 0 and iters > 0")
    graft.functions.VectorExpressions.register(emb.sparkSession)
    val p = CacheScope.persist(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("e")))
    var cents = p.where(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("e").as("cv"),
        lit(1L).as("n_members"))
    for (_ <- 1 to iters) {
      val asg = Kmeans.assign(p, cents.select(col("cid"), col("cv")))
      // the next round re-reads this k-row frame: cut (CacheScope)
      cents = CacheScope.cut(asg.join(p, "vec_id")
        .select(col("cid"), posexplode(col("e")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg((sum(col("x").cast("decimal(24,12)")).cast("double") /
          count(lit(1))).as("m"),
          count(lit(1)).as("n"))
        .groupBy(col("cid"))
        .agg(expr(
          "transform(sort_array(collect_list(struct(pos, m))), s -> s.m)")
          .as("cv"),
          max(col("n")).as("n_members"))) // n identical across dims
    }
    cents
  }

  /** (cid, n_members, cv as IEEE bits), sorted by cid. */
  private def bits(cents: DataFrame): Seq[(Long, Long, Seq[Long])] =
    cents.select(col("cid"), col("n_members"), col("cv"))
      .as[(Long, Long, Seq[Double])].collect()
      .map { case (c, n, v) => (c, n, v.map(java.lang.Double.doubleToRawLongBits)) }
      .toSeq.sortBy(_._1)

  private def assertSameTrajectory(emb: DataFrame, k: Int, iters: Int,
      expectNonEmpty: Boolean = true): Unit = CacheScope.scoped {
    val ref = bits(referenceFit(emb, k, iters))
    val got = Kmeans.fit(emb, k, iters)
    assert(got.columns.toSeq == Seq("cid", "cv", "n_members"))
    assert(bits(got) == ref, s"k=$k iters=$iters")
    assert(ref.nonEmpty == expectNonEmpty)
  }

  private def fixture = sources.Tables.load(spark, sf, "embeddings")

  test("Kmeans.fit ≡ the standalone Lloyd loop on the fixture (k = 8 and k = 100)") {
    assertSameTrajectory(fixture, k = 8, iters = 2)
    assertSameTrajectory(fixture, k = 100, iters = 2)
  }

  test("Kmeans.fit ≡ the standalone Lloyd loop: k > n, distance ties, empty frame") {
    // 5 vectors, 8 seeds asked for: every vector seeds its own centroid
    assertSameTrajectory(fixture.where(col("vec_id") < 5), k = 8, iters = 2)
    // three distinct vectors, each repeated: seeds coincide, so every
    // distance ties and only the centroid-id tiebreak decides
    val dup = (0L until 24L).map(i =>
      (i, Seq(Seq(1f, 0f, 2f), Seq(0f, 3f, 1f), Seq(2f, 2f, 0f))((i % 3).toInt), 0))
      .toDF("vec_id", "embedding", "label")
    assertSameTrajectory(dup, k = 6, iters = 3)
    assertSameTrajectory(fixture.limit(0), k = 8, iters = 2, expectNonEmpty = false)
  }
}
