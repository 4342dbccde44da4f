package graft

import org.apache.spark.sql.functions._

import graft.text.Dedup

/** Round-10 guards: the adaptive Jaccard dispatch must keep both paths
  * result-identical, and the streaming sessionizer's micros conversion
  * must be exact for pre-1970 instants.
  */
class Round10Spec extends SparkSuite {

  private def docs = graft.sources.Tables.load(spark, sf, "documents")

  test("jaccard adaptive dispatch: direct and rare-postings paths emit the identical pair set") {
    graft.CacheScope.scoped {
      val sh = Dedup.shingles(docs)
      // budget 0 forces the rare-postings path; MaxValue forces direct
      val direct = Dedup.jaccardPairs(sh, dfCap = 10, threshold = 0.5,
        directPairBudget = Long.MaxValue)
      val rare = Dedup.jaccardPairs(sh, dfCap = 10, threshold = 0.5,
        directPairBudget = 0L)
      assert(direct.count() > 0, "fixture must contain near-dup pairs")
      assert(direct.exceptAll(rare).isEmpty && rare.exceptAll(direct).isEmpty,
        "the two dispatch paths must agree row-for-row")
    }
  }

  test("jaccard dispatch picks the direct path on a small corpus, rare-postings when mass dominates") {
    graft.CacheScope.scoped {
      val sh = Dedup.shingles(docs)
      // sf0.001's total pair mass is far under the default budget
      val auto = Dedup.jaccardPairs(sh, dfCap = 10, threshold = 0.5)
      auto.count()
      val autoPlan = auto.queryExecution.executedPlan.toString
      assert(!autoPlan.contains("intersect_count_i64"),
        "small corpus must use the single-pass direct join (no hashed-set verify)")
      val forced = Dedup.jaccardPairs(sh, dfCap = 10, threshold = 0.5,
        directPairBudget = 0L)
      forced.count()
      val forcedPlan = forced.queryExecution.executedPlan.toString
      assert(forcedPlan.contains("intersect_count_i64"),
        "above-budget corpora must verify candidates against hashed shingle sets in-row")
    }
  }

  test("connected components: union-find and distributed min-label paths agree row-for-row") {
    graft.CacheScope.scoped {
      import spark.implicits._
      // two chains, one triangle, a self-loop node, an isolated pair —
      // covers transitive closure and the edge-list corner cases
      val pairs = Seq(
        (1L, 2L), (2L, 3L), (3L, 4L),   // chain -> component 1
        (10L, 11L), (11L, 12L), (10L, 12L), // triangle -> 10
        (20L, 20L),                      // self-loop -> singleton 20
        (30L, 31L)                       // pair -> 30
      ).toDF("da", "db")
      val small = Dedup.connectedComponents(pairs)
      val dist = Dedup.connectedComponents(pairs, smallGraphMaxEdges = 0L)
      assert(small.count() === 10)
      assert(small.exceptAll(dist).isEmpty && dist.exceptAll(small).isEmpty,
        "the two CC paths must emit the identical (doc_id, component) set")
      assert(small.where(col("component") === 1L).count() === 4)
    }
  }

  test("connected components dispatch: small graphs collect, big path still iterates") {
    graft.CacheScope.scoped {
      val cand = Dedup.lshCandidates(Dedup.minhashSignatures(
        Dedup.shingles(docs))).select(col("da"), col("db"))
      // the sf0.001 candidate graph is far below the 2^22 edge bound —
      // the real queries take the union-find leg at test scale
      val auto = Dedup.connectedComponents(cand)
      val forced = Dedup.connectedComponents(cand, smallGraphMaxEdges = 0L)
      assert(auto.exceptAll(forced).isEmpty && forced.exceptAll(auto).isEmpty,
        "dispatch must not change the cluster assignment on a real candidate graph")
    }
  }

  test("connected components: a Long.MaxValue fence always takes union-find") {
    // the fence halves to a pair bound; unclamped, any fence ≥ 2^32
    // wrapped through Int (Long.MaxValue → −1) and ran the distributed
    // loop, whose rounds each cut their label frame (`cut at Dedup.scala`)
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("da", "db")
    graft.CacheScope.scoped {
      var labels = Seq.empty[(Long, Long)]
      val execs = SqlEvents.during(spark.sparkContext) {
        labels = Dedup.connectedComponents(pairs, smallGraphMaxEdges = Long.MaxValue)
          .as[(Long, Long)].collect().sorted.toSeq
      }
      assert(labels === Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
      val loop = execs.map(_.description).filter(_.startsWith("cut at Dedup.scala"))
      assert(loop.isEmpty, s"the CC loop ran: $loop")
    }
  }

  test("sessionizer micros conversion is exact on both sides of the epoch") {
    import graft.streaming.Sessionize.{fromMicros, micros}
    // -0.5 s: truncating division would yield +500000 µs
    val preEpoch = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(-1, 500000000))
    assert(micros(preEpoch) === -500000L)
    for (us <- Seq(-1500000L, -500000L, -1L, 0L, 1L, 999999L, 1500000L))
      assert(micros(fromMicros(us)) === us, s"round-trip of $us µs")
  }

  test("span removal: non-keeper loses the duplicated span, keeper keeps everything") {
    import spark.implicits._
    graft.CacheScope.scoped {
      val tiny = Seq(
        (1L, "a b c d e f g h x"), // keeper of the shared 8-gram
        (2L, "a b c d e f g h y"), // loses positions 0..7, keeps "y"
        (3L, "p q r s t u v w z")  // untouched (no cross-doc gram)
      ).toDF("doc_id", "text")
      val out = Dedup.removeRepeatedSpans(tiny, k = 8)
        .select("doc_id", "n_removed", "clean_text")
        .as[(Long, Long, String)].collect()
        .map { case (id, rm, txt) => id -> ((rm, txt)) }.toMap
      assert(out(1L) === ((0L, "a b c d e f g h x")))
      assert(out(2L) === ((8L, "y")))
      assert(out(3L) === ((0L, "p q r s t u v w z")))
    }
  }

  test("span removal matches an independent reference on a randomized phrase corpus") {
    import spark.implicits._
    graft.CacheScope.scoped {
      // corpora assembled from a shared phrase pool so cross-doc 8-gram
      // duplication — including overlapping spans with different
      // keepers — actually occurs
      val rnd = new scala.util.Random(42)
      val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
        "zeta", "eta", "theta")
      val phrases = Vector.fill(12)(
        Vector.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val corpus = (0 until 40).map { i =>
        (i.toLong, Seq.fill(3)(phrases(rnd.nextInt(phrases.size))).mkString(" "))
      }
      val out = Dedup.removeRepeatedSpans(corpus.toDF("doc_id", "text"), k = 8)
        .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
      // plain-Scala reference of the declared semantics
      val tok = corpus.map { case (id, t) =>
        id -> t.trim.toLowerCase.split("\\s+").toVector }.toMap
      val occ = for {
        (id, t) <- tok.toSeq; i <- 0 to t.size - 8
      } yield (t.slice(i, i + 8).mkString(" "), id, i)
      val keeper = occ.groupBy(_._1)
        .filter { case (_, os) => os.map(_._2).distinct.size > 1 }
        .map { case (g, os) => g -> os.map(_._2).min }
      val cut = occ
        .filter { case (g, id, _) => keeper.get(g).exists(_ != id) }
        .flatMap { case (_, id, i) => (i until i + 8).map(id -> _) }
        .groupBy(_._1).map { case (id, ps) => id -> ps.map(_._2).toSet }
      tok.foreach { case (id, t) =>
        val want = t.zipWithIndex.collect {
          case (x, i) if !cut.getOrElse(id, Set.empty[Int]).contains(i) => x
        }.mkString(" ")
        assert(out(id) === want, s"doc $id diverges from the reference")
      }
      assert(cut.nonEmpty, "fixture must exercise actual removals")
    }
  }

  test("span removal never removes more than the span profile marks as covered") {
    import spark.implicits._
    graft.CacheScope.scoped {
      val prof = Dedup.repeatedSpanProfile(docs, k = 8)
        .select("doc_id", "n_rep_tokens").as[(Long, Long)].collect().toMap
      val rem = Dedup.removeRepeatedSpans(docs, k = 8)
        .select("doc_id", "n_removed").as[(Long, Long)].collect()
      assert(rem.exists(_._2 > 0), "fixture must contain cross-doc spans")
      rem.foreach { case (id, n) =>
        assert(n <= prof(id), s"doc $id removed $n > covered ${prof(id)}")
      }
    }
  }

  test("bm25: top-k per query, no self-retrieval, rare term ranks its doc first") {
    import spark.implicits._
    graft.CacheScope.scoped {
      val tiny = Seq(
        (0L, "zzz aaa"),           // the query document
        (1L, "zzz bbb ccc"),       // shares the rare term zzz
        (2L, "bbb ccc ddd aaa"),   // shares only common terms
        (3L, "bbb ccc ddd"),
        (4L, "bbb ccc ddd eee"),
        (5L, "aaa bbb ccc ddd")
      ).toDF("doc_id", "text")
      val queries = tiny.filter(col("doc_id") === 0L)
        .select(col("doc_id").as("qid"),
          explode(graft.text.TextAnalysis.tokens).as("tok")).distinct()
      val top = graft.text.TextAnalysis.bm25TopK(tiny, queries, k = 3)
        .orderBy(col("qid"), col("score").desc, col("doc_id"))
        .select("qid", "doc_id", "score").as[(Long, Long, Double)].collect()
      assert(top.length === 3)
      assert(top.forall { case (q, d, _) => q == 0L && d != 0L })
      assert(top.head._2 === 1L,
        s"doc sharing the rare query term must rank first, got ${top.toSeq}")
      assert(top.map(_._3).sliding(2).forall(p => p.head >= p.last))
    }
  }

  test("bm25 matches an independent reference on a randomized corpus") {
    import spark.implicits._
    graft.CacheScope.scoped {
      val rnd = new scala.util.Random(7)
      val vocab = Vector.tabulate(30)(i => s"w$i")
      val corpus = (0 until 50).map { i =>
        (i.toLong,
          Vector.fill(20 + rnd.nextInt(21))(vocab(rnd.nextInt(vocab.size)))
            .mkString(" "))
      }
      val df = corpus.toDF("doc_id", "text")
      val queries = df.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"),
          explode(graft.text.TextAnalysis.tokens).as("tok")).distinct()
      val got = graft.text.TextAnalysis.bm25TopK(df, queries, k = 5)
        .select("qid", "doc_id", "rank", "score")
        .as[(Long, Long, Long, Double)].collect()
        .map { case (q, d, r, s) => (q, r) -> ((d, s)) }.toMap
      // plain-Scala reference with the same 6-dp-then-exact-sum rule
      val toks = corpus.map { case (id, t) =>
        id -> t.trim.toLowerCase.split("\\s+").toVector }.toMap
      val n = toks.size.toLong
      val avgdl = toks.values.map(_.size.toLong).sum.toDouble / n
      val dfreq = toks.values.flatMap(_.distinct).groupBy(identity)
        .map { case (t, xs) => t -> xs.size.toLong }
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val want = (0L until 3L).map { qid =>
        val terms = toks(qid).distinct
        val scored = toks.keys.filter(_ != qid).flatMap { d =>
          val tf = toks(d).groupBy(identity).map { case (t, xs) => t -> xs.size }
          val parts = terms.flatMap { t =>
            tf.get(t).map { f =>
              val idf = math.log(1.0 +
                ((n - dfreq(t)).toDouble + 0.5) / (dfreq(t).toDouble + 0.5))
              val tfc = (f.toDouble * (1.2 + 1.0)) /
                (f.toDouble + 1.2 * (1.0 - 0.75 + 0.75 * (toks(d).size / avgdl)))
              r6(idf * tfc)
            }
          }
          if (parts.isEmpty) None else Some(d -> parts.sum)
        }.toSeq
        qid -> scored.sortBy { case (d, s) => (-s, d) }.take(5)
      }
      want.foreach { case (qid, top) =>
        top.zipWithIndex.foreach { case ((d, s), i) =>
          val (gd, gs) = got((qid, (i + 1).toLong))
          assert(gd === d, s"qid=$qid rank=${i + 1}: got doc $gd want $d")
          assert(math.abs(gs - s.toDouble) < 1e-9,
            s"qid=$qid doc=$d: score $gs vs ${s.toDouble}")
        }
      }
    }
  }

  test("rrf fusion: overlap outranks single-leg hits, ties break on id") {
    import spark.implicits._
    graft.CacheScope.scoped {
      val lex = Seq((0L, 10L, 1L), (0L, 11L, 2L)).toDF("qid", "id", "rank")
      val vec = Seq((0L, 10L, 1L), (0L, 12L, 2L)).toDF("qid", "id", "rank")
      val out = graft.similarity.Hybrid.rrfFuse(Seq(lex, vec), k0 = 60, topK = 10)
        .orderBy(col("rrf").desc, col("id"))
        .select("id", "n_legs", "rrf").as[(Long, Long, Double)].collect()
      assert(out.map(_._1).toSeq === Seq(10L, 11L, 12L),
        s"doc in both legs first, then the rank-2 tie by id: ${out.toSeq}")
      assert(out.head._2 === 2L && out(1)._2 === 1L)
      // 2 × round(1/61, 6) vs round(1/62, 6), DECIMAL-exact
      assert(math.abs(out.head._3 - 0.032786) < 1e-9)
      assert(out(1)._3 === out(2)._3)
    }
  }

  test("rrf fusion matches an independent reference on randomized legs") {
    import spark.implicits._
    graft.CacheScope.scoped {
      val rnd = new scala.util.Random(11)
      def leg(): Seq[(Long, Long, Long)] = for {
        q <- 0L until 4L
        (id, r) <- rnd.shuffle((0L until 30L).toList).take(12).zipWithIndex
      } yield (q, id, (r + 1).toLong)
      val a = leg(); val b = leg()
      val got = graft.similarity.Hybrid.rrfFuse(
          Seq(a.toDF("qid", "id", "rank"), b.toDF("qid", "id", "rank")),
          k0 = 60, topK = 8)
        .select("qid", "id", "n_legs", "rrf")
        .as[(Long, Long, Long, Double)].collect()
        .groupBy(_._1).map { case (q, rs) =>
          q -> rs.sortBy(r => (-r._4, r._2)).map(r => (r._2, r._3, r._4)).toSeq }
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val want = (0L until 4L).map { q =>
        val terms = (a ++ b).collect { case (`q`, id, r) =>
          id -> r6(1.0 / (60.0 + r.toDouble)) }
        q -> terms.groupBy(_._1)
          .map { case (id, ts) => (id, ts.size.toLong, ts.map(_._2).sum) }
          .toSeq.sortBy { case (id, _, s) => (-s, id) }.take(8)
          .map { case (id, n, s) => (id, n, s.toDouble) }
      }.toMap
      want.foreach { case (q, exp) =>
        val g = got(q)
        assert(g.map(t => (t._1, t._2)) === exp.map(t => (t._1, t._2)),
          s"qid=$q fused order/legs diverge: $g vs $exp")
        g.zip(exp).foreach { case ((_, _, gs), (_, _, es)) =>
          assert(math.abs(gs - es) < 1e-9) }
      }
    }
  }

  test("hybrid rrf over the fixtures: bounded per query, legs counted honestly") {
    import spark.implicits._
    graft.CacheScope.scoped {
      val df = SparkEntry.queries("q_hybrid_rrf")(spark, sf)
      val rows = df.select("qid", "id", "n_legs").as[(Long, Long, Long)].collect()
      assert(rows.nonEmpty)
      val perQ = rows.groupBy(_._1).view.mapValues(_.length)
      assert(perQ.values.forall(_ <= 10))
      assert(rows.forall { case (_, _, n) => n == 1L || n == 2L })
      assert(rows.exists(_._3 == 2L),
        "id-aligned fixtures must produce at least one both-leg candidate")
    }
  }

  test("modality agreement classifies both / text_only / emb_only correctly") {
    import spark.implicits._
    graft.CacheScope.scoped {
      val tinyDocs = Seq(
        (1L, "a b c d e f"), (2L, "a b c d e g"), // jaccard 0.6 pair
        (3L, "p q r s t u"), (4L, "p q r s t v"), // jaccard 0.6 pair
        (5L, "m n o x y z"), (6L, "h i j k l w")  // no shared shingle
      ).toDF("doc_id", "text")
      def vec(head8: Float, tail: (Int, Float)*): Array[Float] = {
        val a = Array.fill(64)(0f)
        (0 until 8).foreach(i => a(i) = head8)
        tail.foreach { case (i, v) => a(i) = v }
        a
      }
      val tinyEmb = Seq(
        // 1↔2: same sign bucket, cos≈1 → emb pair (and a text pair: both)
        (1L, vec(1f)), (2L, vec(1f, 8 -> 0.3f)),
        // 3↔4: same bucket 0, orthogonal one-hots → NOT an emb pair
        (3L, vec(0f, 8 -> 1f)), (4L, vec(0f, 9 -> 1f)),
        // 5↔6: same bucket as 1/2, parallel → emb-only pair
        (5L, vec(1f, 10 -> 0.5f)), (6L, vec(1f, 10 -> 0.5f))
      ).toDF("vec_id", "embedding")
      val out = graft.similarity.Hybrid.modalityAgreement(tinyDocs, tinyEmb)
        .select("da", "db", "signal").as[(Long, Long, String)].collect()
        .map { case (a, b, s) => (a, b) -> s }.toMap
      assert(out((1L, 2L)) === "both")
      assert(out((3L, 4L)) === "text_only")
      assert(out((5L, 6L)) === "emb_only")
    }
  }

  test("bm25 over the fixture: bounded rows per query and deterministic") {
    import spark.implicits._
    graft.CacheScope.scoped {
      def run() = {
        val queries = docs.filter(col("doc_id") < 20)
          .select(col("doc_id").as("qid"),
            explode(graft.text.TextAnalysis.tokens).as("tok")).distinct()
        graft.text.TextAnalysis.bm25TopK(docs, queries, k = 5)
      }
      val a = run()
      val perQ = a.groupBy(col("qid")).count().as[(Long, Long)].collect()
      assert(perQ.nonEmpty && perQ.forall(_._2 <= 5))
      assert(a.exceptAll(run()).isEmpty, "ranking must be run-deterministic")
    }
  }
}
