package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators._

class OperatorsSpec extends SparkSuite {
  import spark.implicits._

  // ---- reference: the branch-and-union theta ladder, verbatim (it was
  // `RepairJoin.apply`; `equiLadder` must match it on equi rounds) ----

  /** One rung of the ladder: a join condition over (fact-alias "b",
    * dim-alias "d"). */
  type Cond = (DataFrame, DataFrame) => Column

  def thetaLadder(base: DataFrame, baseKey: String, dim: DataFrame,
      dimCols: Seq[String], rounds: Seq[Cond], dedupOrder: Seq[Column],
      defaults: Map[String, Column]): DataFrame = {
    require(rounds.nonEmpty, "repair ladder needs at least one round")
    require(dimCols.nonEmpty, "repair ladder needs dim columns to attach")
    require(base.columns.intersect(dimCols).isEmpty,
      s"dim columns ${base.columns.intersect(dimCols).mkString(",")} collide with base columns")
    require(base.columns.contains(baseKey), s"base lacks key column $baseKey")
    val baseCols = base.columns.toSeq
    val outCols = baseCols ++ dimCols
    val matchProbe = dimCols.head

    var current = base
    var branches = List.empty[DataFrame]
    rounds.foreach { cond =>
      val b = current.alias("b")
      val d = dim.alias("d")
      val joined = b.join(broadcast(d), cond(b, d), "left")
      val selected = joined.select(
        baseCols.map(c => col(s"b.$c")) ++ dimCols.map(c => col(s"d.$c")): _*)
      // persist: the matched/unmatched split reads this twice and the
      // final union re-executes every branch — without it each round's
      // join+window pipeline is recomputed ~3× (scope-managed persist).
      // Tiebreak on the dim columns: within a window partition baseKey is
      // constant, so only dim-side columns can break dedupOrder ties.
      val deduped = graft.CacheScope.persist(
        TopK.top1PerKey(selected, Seq(col(baseKey)),
          dedupOrder ++ dimCols.map(col)))
      branches ::= deduped.filter(col(matchProbe).isNotNull)
      current = deduped.filter(col(matchProbe).isNull).select(baseCols.map(col): _*)
    }
    val defaulted = dimCols.foldLeft(current) { (df, c) =>
      df.withColumn(c, defaults.getOrElse(c, lit(null)))
    }.select(outCols.map(col): _*)
    (defaulted :: branches).map(_.select(outCols.map(col): _*))
      .reduce(_ unionByName _)
  }

  private val ladderDimCols = Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
  private val ladderOrder = Seq(col("s_acctbal").desc, col("s_suppkey"))
  private val ladderDefaults = Map("s_suppkey" -> lit(-1L),
    "s_name" -> lit("DEFAULT"), "s_nationkey" -> lit(-1), "s_acctbal" -> lit(0.0))

  /** Both ladders over q_repair_ladder's two rungs, (k1, nat) then k1. */
  private def bothLadders(base: DataFrame, dim: DataFrame): (DataFrame, DataFrame) =
    (thetaLadder(base, "id", dim, ladderDimCols,
      Seq((b, d) => d("s_suppkey") === b("k1") && d("s_nationkey") === b("nat"),
        (b, d) => d("s_suppkey") === b("k1")),
      ladderOrder, ladderDefaults),
     RepairJoin.equiLadder(base, dim, ladderDimCols,
      Seq(Seq("k1" -> "s_suppkey", "nat" -> "s_nationkey"), Seq("k1" -> "s_suppkey")),
      ladderOrder, ladderDefaults))

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.toString)

  test("RepairJoin: tight match wins, loose repairs, defaults fill the rest") {
    val base = Seq((1L, 10L, 1), (2L, 20L, 2), (3L, 99L, 3))
      .toDF("id", "k1", "nat")
    val dim = Seq((10L, "tight", 1, 5.0), (10L, "loose-better", 2, 9.0),
      (20L, "loose", 7, 1.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val out = RepairJoin.equiLadder(base, dim,
      dimCols = Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      rounds = Seq(
        Seq("k1" -> "s_suppkey", "nat" -> "s_nationkey"),
        Seq("k1" -> "s_suppkey")),
      dedupOrder = Seq(col("s_acctbal").desc, col("s_suppkey")),
      defaults = Map("s_suppkey" -> lit(-1L), "s_name" -> lit("DEFAULT"),
        "s_nationkey" -> lit(-1), "s_acctbal" -> lit(0.0)))
      .select("id", "s_name").as[(Long, String)].collect().toMap
    // id=1: round 1 tight match (nat=1) must beat the higher-acctbal loose row
    assert(out(1L) == "tight")
    // id=2: no tight match; round 2 loose match
    assert(out(2L) == "loose")
    // id=3: no match at all → defaults
    assert(out(3L) == "DEFAULT")
  }

  test("RepairJoin.equiLadder ≡ general ladder on equi rounds (dup dim keys)") {
    // dup keys per rung force the dedup to matter; id=4 exercises a
    // round-1 key that only matches in round 2's looser key set
    val base = Seq((1L, 10L, 1), (2L, 20L, 2), (3L, 99L, 3), (4L, 10L, 7))
      .toDF("id", "k1", "nat")
    val dim = Seq((10L, "tight", 1, 5.0), (10L, "tight-dup", 1, 5.0),
      (10L, "loose-better", 2, 9.0), (20L, "loose", 7, 1.0),
      (20L, "loose-worse", 7, 0.5))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    CacheScope.scoped {
      val (general, equi) = bothLadders(base, dim)
      assert(sortedRows(general) == sortedRows(equi))
    }
    // and the equi plan never exchanges the fact: no shuffle reaches a
    // path that includes the base rows (dim-side windows do shuffle)
    val plan = bothLadders(base, dim)._2.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"))
  }

  test("RepairJoin.equiLadder ≡ theta ladder: NULL keys, no match, all match, empty sides") {
    val dim = Seq((10L, "tight", 1, 5.0), (10L, "tight-dup", 1, 5.0),
      (10L, "loose-better", 2, 9.0), (20L, "loose", 7, 1.0),
      (20L, "loose-worse", 7, 0.5), (30L, null, 3, 2.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    def base(rows: (Long, Option[Long], Option[Int])*): DataFrame =
      rows.toDF("id", "k1", "nat")
    val cases = Seq(
      "NULL fact keys" -> (base((1L, None, Some(1)), (2L, Some(10L), None),
        (3L, None, None), (4L, Some(20L), Some(7))), dim),
      "no match" -> (base((1L, Some(98L), Some(1)), (2L, Some(99L), None)), dim),
      "all match tight" -> (base((1L, Some(10L), Some(1)), (2L, Some(20L), Some(7)),
        (3L, Some(30L), Some(3))), dim),
      "all match loose" -> (base((1L, Some(10L), Some(5)), (2L, Some(20L), Some(5)),
        (3L, Some(30L), None)), dim),
      "empty fact" -> (base(), dim),
      "empty dim" -> (base((1L, Some(10L), Some(1)), (2L, None, None)), dim.limit(0)))
    for ((name, (b, d)) <- cases) CacheScope.scoped {
      val (general, equi) = bothLadders(b, d)
      assert(general.schema == equi.schema, name)
      assert(sortedRows(general) == sortedRows(equi), name)
      assert(equi.count() == b.count(), s"$name: one row per fact row")
    }
  }

  test("Quantize.int8Profile: absmax scheme on known vectors, zero-vector guard") {
    val emb = Seq(
      (1L, Seq(0.5f, -0.25f, 0.0f), 0),
      (2L, Seq(0.0f, 0.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = graft.similarity.Quantize.int8Profile(emb)
      .select("vec_id", "dim", "scale_r", "q_checksum", "max_abs_err")
      .as[(Long, Long, Double, Long, Double)].collect().sortBy(_._1)
    // v1: scale 0.5 → q = [127, -64, 0] → checksum 127·1 − 64·2 = −1
    assert(out(0)._2 == 3L && out(0)._3 == 0.5 && out(0)._4 == -1L)
    assert(math.abs(out(0)._5 - (64.0 * 0.5 / 127 - 0.25)) < 1e-6)
    // zero vector: all-zero quantization, zero error, no div-by-zero
    assert(out(1) == ((2L, 3L, 0.0, 0L, 0.0)))
  }

  test("Quantize.hammingPairs: exact recall vs brute force for dist <= 6") {
    // base vector all-positive; variants flip k sign dims (within the 63
    // used bits); k=3,5 are pairs with the base, k=20 is out of range
    def vec(flips: Set[Int]): Seq[Float] =
      (0 until 64).map(i => if (flips(i)) -1.0f else 1.0f)
    val emb = Seq(
      (0L, vec(Set.empty), 0), (1L, vec(Set(2, 7, 40)), 0),
      (2L, vec((0 until 5).toSet), 0), (3L, vec((0 until 20).toSet), 0))
      .toDF("vec_id", "embedding", "label")
    val sigs = graft.similarity.Quantize.signSignature(emb)
    val got = graft.similarity.Quantize.hammingPairs(sigs, maxHamming = 6)
      .select("va", "vb", "hamming").as[(Long, Long, Long)].collect().toSet
    // brute-force ground truth over the collected signatures
    val s = sigs.as[(Long, Long)].collect().toMap
    val want = (for {
      a <- s.keys; b <- s.keys if a < b
      d = java.lang.Long.bitCount(s(a) ^ s(b)) if d <= 6
    } yield (a, b, d.toLong)).toSet
    assert(got == want && want.nonEmpty)
    // sanity: the hamming distances are the flip counts
    assert(got.contains((0L, 1L, 3L)) && got.contains((0L, 2L, 5L)))
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("DisjunctiveJoin rewrite ≡ verbatim OR-join") {
    val l = spark.read.parquet(s"$sf/customer.parquet")
    val r = spark.read.parquet(s"$sf/supplier.parquet")
    val cond = (a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =>
      b("s_suppkey") === a("c_custkey") % 150 ||
        (b("s_suppkey") === a("c_custkey") % 50 && b("s_nationkey") === a("c_nationkey"))
    val verbatim = DisjunctiveJoin.orJoin(l, r, cond(l, r))
      .select(col("c_custkey"), col("s_suppkey"))
    val rewrite = DisjunctiveJoin.orJoinExact(l, r,
      Seq((a, b) => b("s_suppkey") === a("c_custkey") % 150,
        (a, b) => b("s_suppkey") === a("c_custkey") % 50 &&
          b("s_nationkey") === a("c_nationkey")))
      .select(col("c_custkey"), col("s_suppkey"))
    assert(verbatim.except(rewrite).count() == 0)
    assert(rewrite.except(verbatim).count() == 0)
    assert(verbatim.count() == rewrite.count())
  }

  test("surrogate keys: scalable form equals global form") {
    val df = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey")
    val g = PrefixSpec.surrogateKeyGlobal(df, col("o_orderkey"))
    val sc = TopK.surrogateKey(df, col("o_orderkey"))
    assert(g.except(sc).count() == 0 && sc.except(g).count() == 0)
  }

  // ---- reference: reconcile's per-action form for disjoint schemas,
  // verbatim (four jobs; `diffStats` now serves zero common columns) ----
  private def perActionReconcile(src: DataFrame,
      tgt: DataFrame): Delta.ReconcileReport = {
    val common = src.columns.intersect(tgt.columns).toSeq
    Delta.ReconcileReport(
      srcCount = src.count(), tgtCount = tgt.count(),
      missingCols = src.columns.diff(tgt.columns).toSeq,
      extraCols = tgt.columns.diff(src.columns).toSeq,
      srcMinusTgt = src.select(common.map(col): _*)
        .except(tgt.select(common.map(col): _*)).count(),
      tgtMinusSrc = tgt.select(common.map(col): _*)
        .except(src.select(common.map(col): _*)).count())
  }

  test("Delta.reconcile on disjoint schemas: per-action counts and columns, set-exact MINUS, each side empty or not") {
    val src = Seq((1L, "a"), (1L, "a"), (2L, null)).toDF("k", "v")
    val tgt = Seq((7, 1.5), (8, 2.5)).toDF("x", "y")
    // set MINUS over the zero-column projection: a non-empty side holds
    // the one empty tuple. Spark's own except, over a constant column.
    def minus(a: DataFrame, b: DataFrame): Long =
      a.select(lit(1)).except(b.select(lit(1))).count()
    for (s <- Seq(src, src.limit(0)); t <- Seq(tgt, tgt.limit(0))) {
      val got = Delta.reconcile(s, t)
      val legacy = perActionReconcile(s, t)
      val at = s"src ${s.count()} rows, tgt ${t.count()} rows"
      assert(got.copy(srcMinusTgt = 0L, tgtMinusSrc = 0L) ==
        legacy.copy(srcMinusTgt = 0L, tgtMinusSrc = 0L), at)
      assert((got.srcMinusTgt, got.tgtMinusSrc) == ((minus(s, t), minus(t, s))), at)
      assert(got.srcMinusTgt == (if (s.count() > 0 && t.count() == 0) 1L else 0L), at)
      assert(!got.ok, at)
      // the per-action form counted 1 both ways on every input: a
      // zero-column DISTINCT is a global aggregate, one row even when empty
      assert((legacy.srcMinusTgt, legacy.tgtMinusSrc) == ((1L, 1L)), at)
    }
  }

  test("Delta.reconcile flags equal frames as ok and diffs as not") {
    val a = spark.read.parquet(s"$sf/nation.parquet")
    assert(Delta.reconcile(a, a).ok)
    val b = a.filter(col("n_nationkey") =!= 3)
    val rep = Delta.reconcile(a, b)
    assert(!rep.ok && rep.srcMinusTgt == 1 && rep.tgtMinusSrc == 0)
  }

  test("as-of join: <= inclusion, latest-wins, null when no prior row") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000)
    val left = Seq((1L, t(100), 10L), (1L, t(50), 11L), (2L, t(100), 20L))
      .toDF("k", "ts", "lid")
    val right = Seq((1L, t(100), 91L), (1L, t(60), 92L), (3L, t(10), 93L))
      .toDF("k", "ts", "rid")
    val out = AsOfJoin.latestPrior(left, right, "k", "ts", "lid", Seq("rid"))
      .select("lid", "asof_rid").as[(Long, Option[Long])].collect().toMap
    assert(out(10L).contains(91L)) // equal ts matches (<=), latest wins over t(60)
    assert(out(11L).isEmpty)       // only future right rows exist at t(50)
    assert(out(20L).isEmpty)       // key has no right rows at all
  }

  test("approx sketches stay within error bounds of exact answers") {
    // the query's own output IS the bounds check: every boolean must hold
    val rows = SparkEntry.queries("q_agg_approx_sketches")(spark, sf)
      .select("l_returnflag", "distinct_ok", "median_ok")
      .as[(String, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (k, d, m) =>
      assert(d, s"HLL out of 3-sigma bound for $k")
      assert(m, s"approx median outside exact p45..p55 for $k")
    }
  }

  test("unkeyed interval join: boundaries inclusive, multi-bucket spans, left-outer") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000)
    val probe = Seq((1L, t(0)), (2L, t(3600)), (3L, t(9999)), (4L, t(500000)))
      .toDF("pid", "ts")
    // i10 spans 4 one-hour buckets; i20 starts exactly at a probe ts
    val ivs = Seq((10L, t(0), t(12000)), (20L, t(3600), t(3700)))
      .toDF("iid", "lo", "hi")
    val out = RangeJoin.unkeyedInterval(probe, ivs, "ts", "lo", "hi")
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    // each containing interval matched exactly once, both boundaries inclusive
    assert(out == Set((1L, 10L), (2L, 10L), (2L, 20L), (3L, 10L)))
    val outer = RangeJoin.unkeyedInterval(probe, ivs, "ts", "lo", "hi",
      joinType = "left")
      .select("pid", "iid").as[(Long, Option[Long])].collect()
    // probe 4 is outside every interval: surfaces once, null-padded
    assert(outer.count(_._1 == 4L) == 1 && outer.filter(_._1 == 4L).head._2.isEmpty)
  }

  test("newKeysOnly matches NOT-IN-with-coalesce semantics") {
    val src = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val tgt = Seq(Some(1L), None).toDF("k2")
    val out = Delta.newKeysOnly(src, tgt, "k", "k2", lit(-1L))
      .select("k").as[Long].collect().sorted
    assert(out.sameElements(Array(2L, 3L)))
  }

  test("Funnel.twoStep: B-before-A ignored, window boundary inclusive") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000)
    val ev = Seq(
      (1L, t(100), "B"), (1L, t(200), "A"), (1L, t(300), "B"), // B@100 too early
      (2L, t(0), "A"), (2L, t(3600), "B"),                     // exactly on edge
      (3L, t(0), "A"), (3L, t(3601), "B"),                     // one past edge
      (4L, t(50), "A"))                                        // never converts
      .toDF("k", "ts", "typ")
    val out = Funnel.twoStep(ev, col("k"), col("ts"),
        col("typ") === "A", col("typ") === "B", windowSeconds = 3600L)
      .select("k", "converted", "secs_to_convert")
      .as[(Long, Boolean, Option[Long])].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, true, Some(100L)),  // only the B AFTER A counts
      (2L, true, Some(3600L)), // <= boundary converts
      (3L, false, None),       // just outside the window
      (4L, false, None)))
  }

  test("Graph.pageRank: symmetric cycle stays at fixpoint, isolate keeps teleport") {
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(nodes, edges, damping = 0.85, iters = 3)
      .as[(Long, Double)].collect().toMap
    // a<->b is a fixpoint of the uniform start: each keeps exactly 1/3
    assert(math.abs(r(1L) - 1.0 / 3) < 1e-12 && r(1L) == r(2L))
    // the isolate receives only the teleport term every round
    assert(math.abs(r(3L) - 0.15 / 3) < 1e-12)
  }

  test("hashingTf: counts land in buckets, mass equals token count") {
    val docs = Seq((1L, "a b a"), (2L, "")).toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.hashingTf(docs, dim = 8)
      .select(col("doc_id"),
        aggregate(col("tf"), lit(0L), (acc, x) => acc + x).as("l1"),
        array_max(col("tf")).as("mx"),
        size(filter(col("tf"), x => x > 0)).as("nnz"))
      .as[(Long, Long, Long, Int)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, 2), // "a" twice in one bucket, "b" once in another
      (2L, 1L, 1L, 1))) // split("") -> one empty token
  }
}
