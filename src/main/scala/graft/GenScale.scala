package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes a measured-scaling decade from the largest
  * driver-provided fixture (sf0.1 → `target/sf1x`, 10×) so the 100 TB
  * posture can rest on a measured exponent instead of plan reading.
  * The driver's generator is not available, so the scale-up derives
  * from sf0.1 with per-copy transforms chosen to preserve each query
  * family's work profile:
  *
  *  - FACTS (orders, lineitem, customer, events, documents,
  *    embeddings) are unioned as `copies` key-shifted replicas: every
  *    key column is offset by copy × K (K = the table's key range
  *    rounded up to a power of 10), so join fan-outs, group
  *    cardinalities, and session shapes scale linearly with no
  *    cross-copy key collisions. Copy 0 is the verbatim original.
  *  - DIMS (region, nation, supplier, part) stay FIXED — the flagship's
  *    modulo decode joins (o_custkey % 150, o_orderkey % 2000) must
  *    keep landing on real dim keys, and dims growing far slower than
  *    facts is the realistic 100 TB shape anyway.
  *  - DOCUMENT TEXT is deterministically rewritten per copy: each token
  *    flips to a copy-tagged variant when xxhash64(token, copy) is odd
  *    (≈ half the tokens). Within a copy, shared-token structure — and
  *    therefore every within-copy near-dup pair — is preserved exactly
  *    (the rewrite is a function of (token, copy) only); across copies
  *    the trigram overlap collapses to ≈ (1/4)³ ≈ 2 %, far under every
  *    similarity threshold, so pair counts scale linearly, while ≈ half
  *    the vocabulary stays shared so document frequency keeps growing
  *    with the corpus the way a real corpus's does.
  *  - EMBEDDINGS are cyclically rotated by 7 × copy dimensions: norms
  *    and all within-copy distances are preserved bit-exactly, while
  *    cross-copy cosines decorrelate (no artificial cos≈1 pairs). The
  *    fixed low-id query/centroid rows keep their copy-0 originals, so
  *    kNN queries scan a 10× corpus — the scale-up shape that matters.
  *
  * Usage: `runMain graft.GenScale [srcDir] [outDir] [copies] [tables]
  * [widen]` — `tables` is an optional comma list restricting which
  * tables are written (the second, 100× decade only needs `documents`;
  * writing a 100× lineitem for a text-pair benchmark would be wasted
  * disk); `widen` (default 1) applies [[widenText]] to documents for
  * the high-postings fixtures the round-18 auto-dispatch adjudication
  * needs.
  */
object GenScale {

  /** Key offset unit: the smallest power of 10 above the max of EVERY
    * column the offset will be applied to (customer keys are shifted in
    * orders, customer AND events — a unit derived from one table alone
    * would silently collide copies if another table's keys ran higher).
    * Reads via getAs[Number] so int-typed key columns work too. */
  private def unit(cols: (DataFrame, String)*): Long = {
    val mx = cols.map { case (df, key) =>
      df.agg(max(col(key))).head().getAs[Number](0).longValue()
    }.max
    var k = 1L
    while (k <= mx) k *= 10
    k
  }

  private def scaled(df: DataFrame, copies: Int)(
      perCopy: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(i => perCopy(df, i)).reduce(_ unionByName _)

  /** The per-copy document-text rewrite (exposed so the tokenization
    * invariant is testable against the exact production expression).
    * Splits on `\s+` like `TextAnalysis.tokens` does; the two must
    * agree on the corpus (tokens already lower-case, trimmed,
    * single-spaced) or the "within-copy pair preservation" guarantee
    * silently breaks — Round9Spec pins the agreement. */
  def rewriteText(i: Int): org.apache.spark.sql.Column =
    if (i == 0) col("text")
    else expr(s"""array_join(transform(split(text, '\\\\s+'),
      t -> CASE WHEN pmod(xxhash64(t, $i), 2) = 0 THEN t
                ELSE concat('v$i', t) END), ' ')""")

  /** High-POSTINGS widening (round-18 verdict #2): the document's text
    * becomes the concatenation of `w` variants of itself, variant
    * v ≥ 1 prefixing EVERY token with `w{v}x`. Variant shingle spaces
    * are therefore pairwise disjoint and each variant map is an
    * injective per-token renaming, so per document the distinct-shingle
    * count scales exactly ×w (plus 2(w−1) boundary trigrams where
    * variants abut), and for any document pair both the shingle
    * intersection and both set sizes scale ×w — every containment /
    * Jaccard ratio is preserved up to the boundary sliver. The corpus
    * keeps its pair structure while postings-per-doc — the term that
    * dominates the verify dispatch's size estimate (est32 = rows·48 +
    * postings·4 B) — grows w-fold, which is what lets est32 cross the
    * DEFAULT 1.5 GB fence at a doc count whose bucketed transient still
    * fits this box (the auto bucketed handoff was otherwise reachable
    * only fence-pinned). Applied AFTER [[rewriteText]], so cross-copy
    * decorrelation is untouched. */
  def widenText(w: Int): org.apache.spark.sql.Column =
    if (w <= 1) col("text")
    else concat_ws(" ", (0 until w).map { v =>
      if (v == 0) col("text")
      else expr(s"""array_join(transform(split(text, '\\\\s+'),
        t -> concat('w${v}x', t)), ' ')""")
    }: _*)

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sf1x")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val want: String => Boolean = args.lift(3) match {
      case Some(list) => list.split(",").map(_.trim).toSet
      case None => _ => true
    }
    val widen = args.lift(4).map(_.toInt).getOrElse(1)
    val spark = GraftSession.local(GraftSession.envCpus)
    def load(t: String) = graft.sources.Tables.read(spark, s"$src/$t.parquet")
    // generated inputs stay snappy like the fixtures they scale (the
    // session writes zstd), so their bytes compare with the committed
    // BENCH_SCALING_* runs
    def save(t: String)(df: => DataFrame): Unit =
      if (want(t)) df.write.mode("overwrite")
        .option("compression", "snappy").parquet(s"$out/$t.parquet")

    // dims: verbatim
    Seq("region", "nation", "supplier", "part").foreach { t =>
      save(t)(load(t))
    }

    lazy val orders = load("orders")
    lazy val kOrd = unit(orders -> "o_orderkey")
    lazy val kCust = unit(orders -> "o_custkey",
      load("customer") -> "c_custkey", load("events") -> "user_id")
    save("orders")(scaled(orders, copies) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * kOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(i * kCust))
    })

    save("customer")(scaled(load("customer"), copies) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * kCust))
    })

    save("lineitem")(scaled(load("lineitem"), copies) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * kOrd))
    })

    save("events") {
      val events = load("events")
      val kEv = unit(events -> "event_id")
      scaled(events, copies) { (df, i) =>
        df.withColumn("event_id", col("event_id") + lit(i * kEv))
          .withColumn("user_id", col("user_id") + lit(i * kCust))
      }
    }

    save("documents") {
      val docs = load("documents")
      val kDoc = unit(docs -> "doc_id")
      scaled(docs, copies) { (df, i) =>
        df.withColumn("doc_id", col("doc_id") + lit(i * kDoc))
          .withColumn("text", rewriteText(i))
          .withColumn("text", widenText(widen))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }

    save("embeddings") {
      val emb = load("embeddings")
      val kVec = unit(emb -> "vec_id")
      scaled(emb, copies) { (df, i) =>
        val rotated =
          if (i == 0) col("embedding")
          else expr(s"transform(sequence(0, 63)," +
            s" j -> embedding[pmod(j + ${7 * i}, 64)])")
        df.withColumn("vec_id", col("vec_id") + lit(i * kVec))
          .withColumn("embedding", rotated)
      }
    }

    println(s"[genscale] wrote $copies-fold scale-up of $src to $out")
    spark.stop()
  }
}
