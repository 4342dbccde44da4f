package graft

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Stage

class OperatorsSpec extends SparkSuite {
  import spark.implicits._

  test("RepairJoin: tight match wins, loose repairs, defaults fill the rest") {
    val base = Seq((1L, 10L, 1), (2L, 20L, 2), (3L, 99L, 3))
      .toDF("id", "k1", "nat")
    val dim = Seq((10L, "tight", 1, 5.0), (10L, "loose-better", 2, 9.0),
      (20L, "loose", 7, 1.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val out = RepairJoin(base, "id", dim,
      dimCols = Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      rounds = Seq(
        (b, d) => d("s_suppkey") === b("k1") && d("s_nationkey") === b("nat"),
        (b, d) => d("s_suppkey") === b("k1")),
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
    val dimCols = Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val rounds = Seq(
      Seq("k1" -> "s_suppkey", "nat" -> "s_nationkey"),
      Seq("k1" -> "s_suppkey"))
    val order = Seq(col("s_acctbal").desc, col("s_suppkey"))
    val defaults = Map("s_suppkey" -> lit(-1L), "s_name" -> lit("DEFAULT"),
      "s_nationkey" -> lit(-1), "s_acctbal" -> lit(0.0))
    val general = RepairJoin(base, "id", dim, dimCols,
      Seq((b, d) => d("s_suppkey") === b("k1") && d("s_nationkey") === b("nat"),
        (b, d) => d("s_suppkey") === b("k1")),
      order, defaults).collect().map(_.toSeq).sortBy(_.toString)
    val equi = RepairJoin.equiLadder(base, dim, dimCols, rounds, order, defaults)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(general.sameElements(equi))
    // and the equi plan never exchanges the fact: no shuffle reaches a
    // path that includes the base rows (dim-side windows do shuffle)
    val plan = RepairJoin.equiLadder(base, dim, dimCols, rounds, order, defaults)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"))
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
    val rewrite = DisjunctiveJoin.orEquiJoinRewrite(l, r,
      Seq((a, b) => b("s_suppkey") === a("c_custkey") % 150,
        (a, b) => b("s_suppkey") === a("c_custkey") % 50 &&
          b("s_nationkey") === a("c_nationkey")),
      "c_custkey", "s_suppkey")
      .select(col("c_custkey"), col("s_suppkey"))
    assert(verbatim.except(rewrite).count() == 0)
    assert(rewrite.except(verbatim).count() == 0)
    assert(verbatim.count() == rewrite.count())
  }

  test("surrogate keys: scalable form equals global form") {
    val df = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey")
    val g = TopK.surrogateKeyGlobal(df, col("o_orderkey"))
    val sc = TopK.surrogateKeyScalable(df, col("o_orderkey"))
    assert(g.except(sc).count() == 0 && sc.except(g).count() == 0)
    // survive a write path (regression: inconsistent __pid spaces under
    // AQE dropped rows between count and write)
    val out = s"${Stage.root}/surrogate_roundtrip"
    sc.coalesce(1).write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == df.count())
    assert(back.select("surrogate_id").distinct().count() == df.count())
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
