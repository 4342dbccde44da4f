package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over an edge list — the family
  * `Dedup.connectedComponents` opened (pointer-doubling min-label), here
  * with mass propagation: PageRank as the canonical fixed-iteration
  * member. On a dedup/similarity graph the rank identifies HUB
  * documents — near-duplicate cluster centers that many documents
  * resemble — a useful canonical-pick signal alongside quality scores.
  *
  * Dataflow per iteration: contributions = ranks ⨝ degree-annotated
  * edges (degree is folded onto each edge row once, at build), then a
  * sum per destination — linear in edges, the textbook distributed
  * PageRank.
  * Contributions pass through DECIMAL(24,12) so the per-destination sum
  * is partial-agg-order-exact and an oracle can unroll the same
  * iterations bit-for-bit. Dangling nodes (no out-edges) contribute no
  * mass — the documented variant; their own rank still receives the
  * teleport term. A fixed iteration count keeps the computation
  * oracle-checkable; production convergence loops just extend the same
  * round.
  */
object Graph {

  /** `iters` PageRank rounds over the directed edge list (src, dst).
    * `nodes` fixes the node universe (isolated nodes keep the teleport
    * rank). Returns (node, rank). */
  def pageRank(nodes: DataFrame, edges: DataFrame, damping: Double,
      iters: Int): DataFrame = {
    require(iters > 0, "pageRank needs iters > 0")
    // the node universe and the degree-carrying edges below are
    // re-read by every round: cut (CacheScope)
    val n = graft.CacheScope.cut(nodes.select(col("node")).distinct())
    val e = edges.select(col("src"), col("dst"))
    // degree rides each edge row, joined ONCE at build (r18): the
    // iteration body then needs a single rank⋈edge join per round
    // instead of rank⋈degree⋈edge — one join and one pass over the
    // edge frame fewer per round, identical per-edge arithmetic.
    // Deliberately a plain cut, NOT pinned (r19 audit of the
    // coalesce-hostile cache shapes, ADVICE #4): unlike the simhash
    // band / CC edge caches, this frame's per-round consumer join
    // BROADCASTS the rank side at every scale the bench reaches, so a
    // pinned hash(src) layout removes no Exchange — it only adds one
    // at build and fixes every iteration's cached-side read at the
    // session partition count where AQE would have coalesced it.
    // Measured (same-boot A/B, target/r19_ab_*): the pin cost 26% on
    // q_graph_pagerank and 40% on q_graph_triangles at sf0.1.
    val edeg = graft.CacheScope.cut(
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src"))
    val nCount = n.count().toDouble
    var ranks = n.withColumn("rank", lit(1.0 / nCount))
    for (_ <- 1 to iters) {
      val contrib = ranks
        .join(edeg, ranks("node") === edeg("src"))
        .select(col("dst").as("node"),
          (col("rank") / col("deg") * damping)
            .cast("decimal(24,12)").as("c"))
      ranks = graft.CacheScope.cut(
        n.join(contrib.groupBy(col("node"))
            .agg(sum(col("c")).cast("double").as("inflow")),
          Seq("node"), "left")
          .select(col("node"),
            (lit((1.0 - damping) / nCount) +
              coalesce(col("inflow"), lit(0.0))).as("rank")))
    }
    ranks
  }

  /** Per-node triangle counts over an undirected edge list — the
    * clustering-density signal for dedup graphs (a near-dup cluster is
    * triangle-dense; a chain of borderline matches is not).
    *
    * Degree-directed enumeration (Suri & Vassilvitskii, WWW'11): each
    * undirected edge is directed from its lower-(degree, id) endpoint,
    * wedges are enumerated only between the out-neighbors of their apex,
    * and closed against the canonical edge set. Out-degree is bounded by
    * O(√m), so wedge work is O(m^{3/2}) worst case instead of the
    * naive Σdeg² — the high-degree hub that would explode a plain
    * wedge join never becomes an apex. All stages are equi-joins.
    */
  def triangles(pairs: DataFrame): DataFrame = {
    // canonical undirected edges a<b, deduped; shared by the closure
    // join. Deliberately NOT pinned REPARTITION_BY_NUM (r19 audit,
    // ADVICE #4): the closure probe broadcasts this side at bench
    // scale, so a pinned hash(a, b) layout removes no Exchange — the
    // same-boot A/B (target/r19_ab_*) measured the pin costing 40% on
    // q_graph_triangles at sf0.1; see pageRank's edeg note.
    val e = graft.CacheScope.persist(
      pairs.select(least(col("da"), col("db")).as("a"),
          greatest(col("da"), col("db")).as("b"))
        .filter(col("a") < col("b")).distinct())
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // direct each edge low→high by (degree, id); persist: both sides of
    // the wedge self-join share this lineage.
    val directed = graft.CacheScope.persist(
      e.join(deg.select(col("node").as("a"), col("deg").as("dega")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("degb")), "b")
        .select(
          when(col("dega") < col("degb") ||
            (col("dega") === col("degb") && col("a") < col("b")),
            struct(col("a").as("src"), col("b").as("dst")))
            .otherwise(struct(col("b").as("src"), col("a").as("dst")))
            .as("d"))
        .select(col("d.src"), col("d.dst")))
    val wedges = directed.as("x").join(directed.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("apex"), col("x.dst").as("u"),
        col("y.dst").as("v"))
    val closed = wedges.join(e,
      least(col("u"), col("v")) === col("a") &&
        greatest(col("u"), col("v")) === col("b"))
      .select(col("apex"), col("u"), col("v"))
    closed.select(explode(array(col("apex"), col("u"), col("v")))
        .as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
  }
}
