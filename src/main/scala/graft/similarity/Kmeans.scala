package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheScope

/** Lloyd's k-means as pure dataflow — the codebook trainer the IVF/PQ
  * docs point at (`Knn.ivfTopK`, `Pq`), kept fully deterministic so the
  * oracle gate can check it: centroids seed from the `vec_id < k`
  * vectors, the iteration count is fixed, assignment ties break on
  * centroid id, and recentering sums run through DECIMAL(24,12) so the
  * means are partial-agg-order-exact. Given identical inputs both
  * engines walk identical centroid trajectories — k-means is chaotic
  * only across SEEDS, not within one deterministic run.
  *
  * One Lloyd round loop, [[fitGrouped]]'s; [[fit]] is its one-group
  * case. Scale posture per iteration: assign is corpus × broadcast(k
  * centroids) + a `min(struct(dist, cid))` arg-min on vec_id (one
  * shuffle); recenter is a posexplode to (cluster, dim) — corpus × dims
  * rows, the same width a feature matrix already has — aggregated in
  * one shuffle on (cluster, dim). Centroid frames are k rows: cut,
  * broadcast, never a bottleneck. Empty clusters drop out (standard
  * Lloyd); k can only shrink.
  */
object Kmeans {

  private def l2sq(a: String, b: String) =
    expr(s"dot_f64($a, $a) - 2 * dot_f64($a, $b) + dot_f64($b, $b)")

  /** Nearest-centroid assignment: (vec_id, cid) — one row per vector.
    *
    * Shape matters here more than anywhere else in the trainer: the
    * n×k candidate frame is reduced by `min(struct(dist, cid))` — the
    * same (dist asc, cid asc) order a row_number window would use, but
    * as an AGGREGATE, so map-side partial aggregation collapses the
    * shuffle to ~one 24-byte row per vector per partition. The window
    * form it replaces shuffled the full candidate rows — including the
    * embedding AND centroid vectors (~2 KB each) — through the
    * exchange: at 500k vectors × 800 centroids that is ~800 GB of
    * shuffle vs ~12 MB after this reduction. Verified output-identical
    * (the DuckDB oracle's `kmAssign` computes the same arg-min). */
  def assign(prepared: DataFrame, centroids: DataFrame): DataFrame =
    prepared.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("cid"), l2sq("e", "cv").as("__d"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("__d"), col("cid"))).as("__m"))
      .select(col("vec_id"), col("__m.cid").as("cid"))

  /** [[assignTwoLevel]]'s shipped dispatch: at most this many
    * centroids always take the flat pass, with no corpus count. */
  val DefaultFlatBelow: Long = 64L

  /** [[assignTwoLevel]]'s shipped dispatch: the flat pass runs while
    * its work product n·k stays at or below this many evaluations. */
  val DefaultWorkBudget: Double = 4e8

  /** Two-level nearest-centroid assignment — EXACT, for large k.
    *
    * Flat [[assign]] is n·k work; in the SemDeDup constant-cluster-size
    * regime (k grown ∝ n) that term is superlinear — the one left in
    * the similarity family (measured: fit_assign 0.41/decade,
    * `BENCH_SEM_DECADE.json`). Two-level: the k centroids are
    * themselves clustered into g = ⌈√k⌉ super-clusters; each vector
    * measures g super distances, prunes whole groups by the triangle
    * inequality, and runs the exact arg-min only over surviving
    * groups' members — n·(√k + survivors·k/g) ≈ n·√k when clusters
    * separate.
    *
    * The pruning is EXACT, not ANN: group G survives for vector v iff
    * d(v,s_G) − R_G ≤ m(v) = min_H (d(v,s_H) + R_H), with R_G the max
    * member-to-super distance. Every group bound d(v,s_H) + R_H ≥
    * d(v, H's best member) ≥ d(v, c*), so m(v) ≥ d(v, c*); and c*'s
    * own group has d(v,s) − R ≤ d(v,c*) ≤ m(v). The true arg-min AND
    * every exact-tie partner always survive, so the final
    * min(struct(dist, cid)) — computed with the identical l2sq the
    * flat path uses — equals [[assign]]'s output, ties included; the
    * bound is epsilon-padded against sqrt round-off (slack only ever
    * ADMITS candidates). Verified ≡ flat on the fixture at k = 100
    * (Round12Spec).
    *
    * ADAPTIVE DISPATCH on the flat pass's work product n·k (the same
    * measured-boundary pattern as `Dedup.jaccardPairs`' pair budget and
    * `Dedup.connectedComponents`' edge bound): the two-level path
    * carries ~15 extra jobs of fixed latency (two small Lloyd fits,
    * cuts, the bound joins — measured ~17 s on this box), so
    * below `workBudget` candidate evaluations the flat broadcast pass
    * is strictly cheaper (measured at n = 200k, k = 320: flat 4 s vs
    * two-level 21 s — n·k = 6.4e7 is 'free' for codegen; the n·k term
    * only dominates once it reaches ~1e9, where flat is minutes and
    * two-level stays ~n·√k). `flatBelow` additionally keeps tiny-k
    * callers (the k = 8 oracle fixture) on the byte-identical flat
    * plan without paying the corpus count.
    *
    * Scale shape: the only frames wider than (id, id, double) are the
    * g-row super frame and the k-row centroid frame (both broadcast);
    * the n×g super-distance frame carries three scalars per row. */
  def assignTwoLevel(prepared: DataFrame, centroids: DataFrame,
      flatBelow: Long = DefaultFlatBelow,
      workBudget: Double = DefaultWorkBudget): DataFrame = {
    // the k-row frames below feed many later branches: cut, not
    // persisted (the rule in CacheScope)
    val cents = CacheScope.cut(centroids.select(col("cid"), col("cv")))
    val k = cents.count() // fenced driver scalar on a k-row frame
    // fenced driver scalars only: k rows + one corpus count — never row
    // data. The count is skipped entirely below flatBelow.
    if (k <= flatBelow ||
        prepared.count().toDouble * k <= workBudget) assign(prepared, cents)
    else {
      val g = math.ceil(math.sqrt(k.toDouble)).toInt
      // contiguous rank so the super-fit can seed from vec_id < g; the
      // window orders the k-row centroid frame, never the corpus
      val ranked = CacheScope.cut(cents.withColumn("rk",
        row_number().over(Window.orderBy(col("cid"))).cast("long") - 1))
      val sup = CacheScope.cut(fit(ranked.select(col("rk").as("vec_id"),
          col("cv").as("embedding")), g, iters = 2)
        .select(col("cid").as("gid"), col("cv").as("sv")))
      val c2g = assign(
        ranked.select(col("rk").as("vec_id"), col("cv").as("e")),
        sup.select(col("gid").as("cid"), col("sv").as("cv")))
        .select(col("vec_id").as("rk"), col("cid").as("gid"))
      val cg = CacheScope.cut(ranked.join(c2g, "rk")
        .select(col("gid"), col("cid"), col("cv")))
      val radii = cg.join(broadcast(sup), "gid")
        .select(col("gid"),
          sqrt(greatest(l2sq("cv", "sv"), lit(0.0))).as("dcs"))
        .groupBy(col("gid")).agg(max(col("dcs")).as("rg"))
      val supR = CacheScope.cut(sup.join(radii, "gid"))
      val vg = CacheScope.persist(
        prepared.crossJoin(broadcast(supR))
          .select(col("vec_id"), col("gid"),
            sqrt(greatest(l2sq("e", "sv"), lit(0.0))).as("dvs"),
            col("rg")))
      val m = vg.groupBy(col("vec_id"))
        .agg(min(col("dvs") + col("rg")).as("m"))
      // slack scales with the magnitudes involved: l2sq via
      // dot(a,a)-2dot(a,b)+dot(b,b) cancels catastrophically for
      // large-|v| vectors (absolute error ~ulp(|v|^2)), so a fixed
      // 1e-9 pad would under-admit there; eps*(dvs+rg+m+1) keeps the
      // pad proportional to the distances being compared. Slack only
      // ever ADMITS groups — the final arg-min below is exact — so
      // widening cannot change the output, only the survivor count.
      val survivors = vg.join(m, "vec_id")
        .filter(col("dvs") - col("rg") <= col("m") +
          lit(1e-9) * (col("dvs") + col("rg") + col("m") + lit(1.0)))
        .select(col("vec_id"), col("gid"))
      survivors.join(prepared, "vec_id")
        .join(broadcast(cg), Seq("gid"))
        .select(col("vec_id"), col("cid"), l2sq("e", "cv").as("__d"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("__d"), col("cid"))).as("__m"))
        .select(col("vec_id"), col("__m.cid").as("cid"))
    }
  }

  /** Run `iters` Lloyd rounds over the embedding column; returns the
    * final centroids as (cid, cv, n_members) where `n_members` counts
    * the assignment that produced each centroid. One constant group of
    * [[fitGrouped]], whose round loop is the only one: the same `l2sq`,
    * (dist, cid) arg-min and decimal means as [[assign]]. */
  def fit(emb: DataFrame, k: Int, iters: Int): DataFrame =
    fitGrouped(emb.select(lit(0).as("g"), col("vec_id"),
        col("embedding").as("v")), k, iters)
      .select(col("cid"), col("cv"), col("n_members"))

  /** Per-group Lloyd: an independent k-means per value of `g`, trained
    * in ONE shared dataflow — each round is a single assignment shuffle
    * plus a single recenter shuffle for ALL groups together. This is
    * the PQ-subspace codebook trainer: running `nSub` separate [[fit]]s
    * would scan the sub-vector corpus `nSub` times; keying every stage
    * by the group column makes the pass count independent of `nSub`,
    * which is what survives 100 TB. Input `(g, vec_id, v)`; each
    * group's seeds are its `vec_id < k` rows; returns
    * `(g, cid, cv, n_members)`. Deterministic (decimal-exact means,
    * fixed iterations, centroid-id tiebreaks), so the oracle gate can
    * walk the identical trajectory. */
  def fitGrouped(sub: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters > 0, "k-means needs k > 0 and iters > 0")
    graft.functions.VectorExpressions.register(sub.sparkSession)
    val p = CacheScope.persist(sub.select(col("g"), col("vec_id"),
      col("v").cast("array<double>").as("v")))
    var cents = p.where(col("vec_id") < k)
      .select(col("g"), col("vec_id").as("cid"), col("v").as("cv"))
    for (_ <- 1 to iters) {
      // same min(struct) reduction as [[assign]] (map-side combine vs
      // shuffling full candidate rows through a window exchange); v
      // rides the buffer but never orders — (dist, cid) is unique per
      // (g, vec_id) candidate set, so comparison stops at cid
      val asg = p.join(broadcast(cents), "g")
        .select(col("g"), col("vec_id"),
          l2sq("v", "cv").as("__d"), col("cid"), col("v"))
        .groupBy(col("g"), col("vec_id"))
        .agg(min(struct(col("__d"), col("cid"), col("v"))).as("__m"))
        .select(col("g"), col("__m.cid").as("cid"), col("__m.v").as("v"))
      // the next round re-reads this frame: cut (CacheScope)
      cents = CacheScope.cut(
        asg.select(col("g"), col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("g"), col("cid"), col("pos"))
          .agg((sum(col("x").cast("decimal(24,12)")).cast("double") /
            count(lit(1))).as("m"),
            count(lit(1)).as("n"))
          .groupBy(col("g"), col("cid"))
          .agg(expr(
            "transform(sort_array(collect_list(struct(pos, m))), t -> t.m)")
            .as("cv"),
            max(col("n")).as("n_members"))) // n identical across dims
    }
    cents
  }
}
