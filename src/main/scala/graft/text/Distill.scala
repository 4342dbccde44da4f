package graft.text

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Gate distillation: train a linear (logistic-regression) scorer to
  * mimic an expensive boolean quality gate, then score every document
  * with one dot product — the fastText-style quality-classifier
  * pattern (CCNet, LLaMA data pipeline): the teacher gate runs complex
  * per-doc analysis; the student is a hashed-bag-of-words linear model
  * cheap enough to score 100 TB.
  *
  * Fully deterministic dataflow so the oracle can walk the IDENTICAL
  * trajectory (the [[graft.similarity.Kmeans]] / PageRank discipline):
  * fixed iteration count, md5-derived feature buckets, per-term 8 dp
  * rounding with DECIMAL(20,8) sums (partial-aggregation-order-exact),
  * sigmoid rounded to 6 dp before it feeds anything downstream (also
  * absorbs last-ulp exp() differences between engines), weights
  * rounded to 8 dp per step.
  *
  * Scale shape: features are (doc, bucket) rows — one explode + one
  * groupBy, the same volume as hashingTf — hash-partitioned by doc_id
  * with the label folded in, then cached ONCE per training call as one
  * block of primitive arrays per partition, rows grouped by document.
  * Each GD round is then ONE plain Spark job over those blocks:
  * per-doc scores, residuals and per-bucket partial gradient sums
  * computed partition-locally, ≤ dim+5 partial sums per partition
  * merged on the driver — no shuffle, and no SQL analysis, adaptive
  * re-planning or plan-string rendering per round. The kernel
  * reproduces Spark's scalar semantics term for term (round, cast,
  * exact decimal sum, exp), so it walks the SQL form's trajectory bit
  * for bit; `DistillSpec` pins that against the per-round SQL form it
  * keeps as the reference.
  *
  * Train and score are SEPARATE entry points ([[trainGate]] /
  * [[scoreGate]]) because that is the production shape: the teacher
  * gate runs on a bounded labeled sample, the learned ≤ dim+5-double
  * weight vector ships to the driver, and scoring the remaining
  * 100 TB is one map-literal lookup + one per-doc sum per document —
  * no iteration touches the full corpus. [[distillGate]] composes
  * the two over one input for the oracle-gated registered query.
  */
object Distill {

  /** Features (the fastText-quality shape — a hashed token bag PLUS a
    * handful of cheap one-pass scalar metrics; tf-weighted bags alone
    * measured inseparable on the gate, all-majority at any lr):
    * buckets 0..dim-1 hold unigram PRESENCE (1.0 if any token of the
    * doc hashes there — presence beats tf here because a stopword's
    * signal is its existence, not its share), and reserved negative
    * buckets hold: -1 bias, -2 log-length ln(1+wc)/10, -3 distinct
    * ratio, -4 top-token fraction, -5 stopword fraction. All are
    * single-pass per-doc scalars — the student stays one cheap dot
    * product per document at scoring time. Output: (doc_id, b, x). */
  private def rawFeatures(docs: DataFrame, dim: Int): DataFrame = {
    val tk = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens).as("tok"))
    val unigram = tk
      .select(col("doc_id"),
        pmod(graft.functions.Scalars.md5Long60(col("tok")), lit(dim.toLong))
          .cast("int").as("b"))
      .distinct()
      .withColumn("x", lit(1.0))
    val t = TextAnalysis.tokens
    val wc = size(t).cast("long")
    val metrics = docs.select(col("doc_id"), array(
        struct(lit(-1).as("b"), lit(1.0).as("x")),
        struct(lit(-2).as("b"),
          round(log(lit(1.0) + wc.cast("double")) / 10, 6).as("x")),
        struct(lit(-3).as("b"), round(size(array_distinct(t)).cast("double")
          / wc.cast("double"), 6).as("x")),
        struct(lit(-4).as("b"),
          round(TextAnalysis.topTokenFrac(t).cast("double"), 6).as("x")),
        struct(lit(-5).as("b"),
          round(TextAnalysis.stopHits(t, TextAnalysis.enStops).cast("double")
            / wc.cast("double"), 6).as("x"))).as("m"))
      .select(col("doc_id"), explode(col("m")).as("f"))
      .select(col("doc_id"), col("f.b").as("b"), col("f.x").as("x"))
    unigram.unionByName(metrics)
  }

  /** The labeled feature frame the GD kernel caches: the label rides
    * every feature row (ONE corpus join at build time instead of one per
    * GD round), hash-partitioned by doc_id so every row of a document
    * lands in one partition — [[featureCache]] groups each partition by
    * document once, and every round is then partition-local.
    *
    * Partition count is SIZE-ADAPTIVE (r18, guide §2.2/§2.4): each GD
    * round runs one task per partition of the cache, so the count is a
    * per-round task-floor multiplier — at bench scale the session default
    * (one partition per core) put 64 near-empty tasks in every round's
    * critical path. ~50k docs per partition ≈ 1.5M feature rows, inside
    * the guide's 100 MB–1 GB band for a cached working set this hot; the
    * session shuffle-partition knob stays the ceiling so a cluster
    * deployment (which overrides it to 2-3× its core total) keeps its
    * parallelism. Partitioning cannot perturb results: every per-row
    * term is rounded to 8 dp and summed as an exact decimal, so the
    * reduction is order-exact (object scaladoc). */
  private[graft] def labeledFeatures(docs: DataFrame, label: Column,
      dim: Int, ndocs: Long): DataFrame = {
    val ceilParts =
      docs.sparkSession.sessionState.conf.numShufflePartitions
    val parts = math.max(1L, math.min(ceilParts.toLong,
      (ndocs + 49999L) / 50000L)).toInt
    rawFeatures(docs, dim)
      .join(docs.select(col("doc_id"), label.cast("long").as("y")),
        "doc_id")
      .repartition(parts, col("doc_id"))
      .select(col("doc_id"), col("b"), col("x"), col("y"))
  }

  /** Reserved metric buckets -5..-1 sit below the unigram buckets, so a
    * bucket's slot in a weight array is `b + nMetric`. */
  private val nMetric = 5

  /** One partition of the labeled feature frame grouped by document:
    * doc `d` owns feature rows `start(d) until start(d + 1)`; `y` is the
    * doc's label (max over its rows, as the SQL `max(y)` was), `slot`
    * the bucket's weight-array slot, and the null flags mirror SQL
    * NULLs (a NULL-text doc has NULL metric features and label). */
  private final class Block(val ids: Array[Long], val start: Array[Int],
      val y: Array[Long], val yNull: Array[Boolean], val slot: Array[Int],
      val x: Array[Double], val xNull: Array[Boolean]) extends Serializable

  private def block(rows: Iterator[InternalRow]): Block = {
    val docOf = mutable.LongMap.empty[Int]
    val ids = mutable.ArrayBuilder.make[Long]
    val rowDoc = mutable.ArrayBuilder.make[Int]
    val rowSlot = mutable.ArrayBuilder.make[Int]
    val rowX = mutable.ArrayBuilder.make[Double]
    val rowXNull = mutable.ArrayBuilder.make[Boolean]
    val rowY = mutable.ArrayBuilder.make[Long]
    val rowYNull = mutable.ArrayBuilder.make[Boolean]
    rows.foreach { r => // (doc_id, b, x, y), doc_id and b never NULL
      val id = r.getLong(0)
      // a new doc's index is the map size before its insert
      rowDoc += docOf.getOrElseUpdate(id, { ids += id; docOf.size })
      rowSlot += r.getInt(1) + nMetric
      rowXNull += r.isNullAt(2)
      rowX += (if (r.isNullAt(2)) 0.0 else r.getDouble(2))
      rowYNull += r.isNullAt(3)
      rowY += (if (r.isNullAt(3)) 0L else r.getLong(3))
    }
    val (doc, sl, xs, xn, ys, yn) = (rowDoc.result(), rowSlot.result(),
      rowX.result(), rowXNull.result(), rowY.result(), rowYNull.result())
    val nDocs = docOf.size
    val y = new Array[Long](nDocs)
    val yNull = Array.fill(nDocs)(true)
    val start = new Array[Int](nDocs + 1)
    for (i <- doc.indices) {
      val d = doc(i)
      start(d + 1) += 1
      if (!yn(i) && (yNull(d) || ys(i) > y(d))) { y(d) = ys(i); yNull(d) = false }
    }
    for (d <- 0 until nDocs) start(d + 1) += start(d)
    // counting sort of the rows by document
    val next = start.clone()
    val slot = new Array[Int](doc.length)
    val x = new Array[Double](doc.length)
    val xNull = new Array[Boolean](doc.length)
    for (i <- doc.indices) {
      val j = next(doc(i))
      next(doc(i)) += 1
      slot(j) = sl(i); x(j) = xs(i); xNull(j) = xn(i)
    }
    new Block(ids.result(), start, y, yNull, slot, x, xNull)
  }

  /** The labeled feature frame as a persisted RDD of one [[Block]] per
    * partition — primitive arrays, no per-row objects, and no SQL plan
    * left to analyse in the GD loop. Built once per training call and
    * registered with the enclosing [[graft.CacheScope]]. */
  private def featureCache(docs: DataFrame, label: Column, dim: Int,
      ndocs: Long): RDD[Block] =
    graft.CacheScope.persist(labeledFeatures(docs, label, dim, ndocs)
      .queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(block(rows)))
      .setName("distill features"))

  // Spark's scalar semantics, reproduced exactly so the kernel walks the
  // trajectory of the SQL form bit for bit (and the oracle's with it).

  /** `round(v, scale)` on a double: HALF_UP through the shortest decimal
    * string, NaN and ±Infinity pass through. */
  private def roundHalfUp(v: Double, scale: Int): Double =
    if (v.isNaN || v.isInfinite) v
    else JBigDecimal.valueOf(v).setScale(scale, RoundingMode.HALF_UP).doubleValue

  /** `CAST(round(v, 8) AS DECIMAL(20,8))`: the cast re-reads the rounded
    * double through `Double.toString`; like the ANSI cast (Spark 4's
    * default) it fails on NaN/Infinity and beyond 12 integer digits. */
  private def term(v: Double): JBigDecimal = {
    val r = roundHalfUp(v, 8)
    if (r.isNaN || r.isInfinite)
      throw new ArithmeticException(s"distill term $r is not a decimal(20,8)")
    val d = JBigDecimal.valueOf(r).setScale(8, RoundingMode.HALF_UP)
    if (d.precision > 20)
      throw new ArithmeticException(s"distill term $d overflows decimal(20,8)")
    d
  }

  /** Exact decimal sum with SQL NULL semantics: null until a term lands. */
  private def plus(acc: JBigDecimal, t: JBigDecimal): JBigDecimal =
    if (acc == null) t else if (t == null) acc else acc.add(t)

  /** `round(1 / (1 + exp(-s)), 6)` — `Math.exp`, as Spark's generated
    * code for `exp` calls it. */
  private def sigmoidOf(s: Double): Double =
    roundHalfUp(1.0 / (1.0 + Math.exp(-s)), 6)

  /** Doc `d`'s score `s`: the exact sum of its non-NULL terms read back
    * as a double (`Decimal.toDouble`), or null when it has none. */
  private def score(blk: Block, d: Int, w: Array[Double]): java.lang.Double = {
    var acc: JBigDecimal = null
    for (i <- blk.start(d) until blk.start(d + 1))
      if (!blk.xNull(i)) acc = plus(acc, term(blk.x(i) * w(blk.slot(i))))
    if (acc == null) null else acc.doubleValue
  }

  /** One GD round over one partition: per-slot exact sums of
    * `round(x * r, 8)`, `r = sigmoid(s) - y`; docs with a NULL label or
    * score contribute nothing, as their NULL residual did in SQL. */
  private def gradSums(blk: Block, w: Array[Double]): Array[JBigDecimal] = {
    val g = new Array[JBigDecimal](w.length)
    for (d <- blk.ids.indices) {
      val s = score(blk, d, w)
      if (s != null && !blk.yNull(d)) {
        val r = sigmoidOf(s) - blk.y(d).toDouble
        for (i <- blk.start(d) until blk.start(d + 1))
          if (!blk.xNull(i))
            g(blk.slot(i)) = plus(g(blk.slot(i)), term(blk.x(i) * r))
      }
    }
    g
  }

  /** One GD round's task: [[gradSums]] of each block of a partition,
    * in block order, at the round's weights `w`. */
  private final class GradSums(w: Array[Double])
      extends ((TaskContext, Iterator[Block]) => Array[Array[JBigDecimal]])
      with Serializable {
    def apply(ctx: TaskContext, blocks: Iterator[Block]): Array[Array[JBigDecimal]] =
      blocks.map(gradSums(_, w)).toArray
  }

  /** `iters` batch-GD rounds over the feature cache; model state lives on
    * the DRIVER — the MLlib topology: the data stays distributed, the
    * ≤ dim+5-double weight array rides each round's closure, and each
    * round is ONE plain Spark job (a map over the cached blocks) whose
    * result is ≤ dim+5 partial sums per partition, never row data. The
    * first job materializes the cache and returns its bucket set. A
    * bucket whose gradient is NULL (every label NULL) takes a zero step,
    * as the oracle's `coalesce(g, 0.0)` does.
    *
    * A round's job runs [[GradSums]] through `runJob` rather than an
    * `rdd.map(...).collect()`: Spark's closure cleaner walks each new
    * lambda (and `collect`'s own) with ASM on every call (19 of the 649
    * main-thread JFR samples of one curation benchmark run), and it
    * skips a named function class (1 sample left). The blocks' sums
    * come back in the same partition and block order, so the
    * driver-side reduce adds them as before. */
  private def gdTrain(cache: RDD[Block], dim: Int, ndocs: Double,
      iters: Int, lr: Double): Map[Int, Double] = {
    val slots = cache.map(blk => blk.slot.distinct).collect().flatten.distinct
    val w = new Array[Double](dim + nMetric)
    for (_ <- 1 to iters) {
      val g = cache.sparkContext.runJob(cache, new GradSums(w)).flatten.reduce { (a, b) =>
        for (i <- a.indices) a(i) = plus(a(i), b(i))
        a
      }
      for (k <- slots) {
        val gk = if (g(k) == null) 0.0
          else roundHalfUp(g(k).doubleValue / ndocs, 8)
        w(k) = roundHalfUp(w(k) - lr * gk, 8)
      }
    }
    slots.map(k => (k - nMetric) -> w(k)).toMap
  }

  private val sigmoid = round(lit(1.0) / (lit(1.0) + exp(-col("s"))), 6)

  /** The weight vector as a MAP LITERAL column, `w(b) = element_at(m, b)`
    * — replacing the per-doc broadcast-joined local frame (r18): the
    * ≤ dim+5-entry map rides the plan as one literal reference, so
    * scoring is a map-only projection. An unigram bucket the training
    * sample never produced hits no key → element_at yields NULL → the
    * per-term product is NULL → sum() skips it, exactly as an inner join
    * against a weight frame would drop that row; every doc still appears
    * because the bias bucket (-1) is always trained.
    *
    * An EMPTY weight map (an empty training corpus seeds zero buckets)
    * cannot build a map literal; scoring short-circuits it to a typed
    * empty result instead — what an inner join against an empty weight
    * frame produces (r19, ADVICE: the r18 form threw
    * IllegalArgumentException on that input). */
  private def wCol(m: Map[Int, Double]): Column =
    if (m.isEmpty) lit(null).cast("double") else element_at(typedLit(m), col("b"))

  /** Empty-weight-map guard: `lit(false)` prunes the frame to a typed
    * empty relation at optimization time; for a trained map it folds to
    * `true` and vanishes. */
  private def nonEmptyW(m: Map[Int, Double]): Column = lit(m.nonEmpty)

  /** Train the student on `docs` (the bounded teacher-labeled sample)
    * and return the learned weight vector — a fenced ≤ dim+5-entry
    * driver map, the only thing that ships to the scoring pass. */
  def trainGate(docs: DataFrame, label: Column, dim: Int = 64,
      iters: Int = 3, lr: Double = 1.0): Map[Int, Double] = {
    require(dim > 0 && iters > 0 && lr > 0, "trainGate needs dim, iters, lr > 0")
    val ndocs = docs.count()
    graft.CacheScope.scoped {
      gdTrain(featureCache(docs, label, dim, ndocs), dim, ndocs.toDouble, iters, lr)
    }
  }

  /** Score `docs` with a trained weight vector: one map-literal lookup +
    * one per-doc sum — the 100 TB pass. Output (doc_id, score,
    * predicted); the identical rounding discipline as training, so a
    * doc scored here equals the same doc scored inside
    * [[distillGate]]. */
  def scoreGate(docs: DataFrame, w: Map[Int, Double],
      dim: Int = 64): DataFrame =
    rawFeatures(docs, dim)
      .where(nonEmptyW(w))
      .select(col("doc_id"),
        round(col("x") * wCol(w), 8).cast("decimal(20,8)").as("t"))
      .groupBy(col("doc_id"))
      .agg(sum(col("t")).cast("double").as("s"))
      .select(col("doc_id"), sigmoid.as("score"),
        when(sigmoid >= 0.5, 1L).otherwise(0L).as("predicted"))

  /** Train `iters` batch-GD rounds against `label` over `docs`, then
    * emit per doc: (doc_id, label, score, predicted, correct). `lr` is
    * the learning rate on the MEAN gradient. Train + score over the
    * same input — the oracle-gated registered form. The scores come off
    * the training cache (one more pass of the kernel, run by the
    * consumer's action), which the enclosing [[graft.CacheScope]]
    * unpersists on exit. */
  def distillGate(docs: DataFrame, label: Column, dim: Int = 64,
      iters: Int = 3, lr: Double = 1.0): DataFrame = {
    require(dim > 0 && iters > 0 && lr > 0, "distillGate needs dim, iters, lr > 0")
    // corpus size as a fenced driver scalar, computed ONCE — the
    // crossJoin(broadcast(one-row-agg)) form re-counted the corpus
    // inside every round's gradient job
    val ndocs = docs.count()
    val cache = featureCache(docs, label, dim, ndocs)
    val w = new Array[Double](dim + nMetric)
    gdTrain(cache, dim, ndocs.toDouble, iters, lr)
      .foreach { case (b, v) => w(b + nMetric) = v }
    val rows = cache.flatMap { blk =>
      blk.ids.indices.iterator.map { d =>
        Row(blk.ids(d), if (blk.yNull(d)) null else blk.y(d), score(blk, d, w))
      }
    }
    docs.sparkSession.createDataFrame(rows, StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("label", LongType), StructField("s", DoubleType))))
      .select(col("doc_id"), col("label"), sigmoid.as("score"),
        when(sigmoid >= 0.5, 1L).otherwise(0L).as("predicted"))
      .withColumn("correct",
        when(col("predicted") === col("label"), 1L).otherwise(0L))
  }
}
