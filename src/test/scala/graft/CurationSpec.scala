package graft

import org.apache.spark.sql.functions._

import graft.text.{Curation, Dedup}

class CurationSpec extends SparkSuite {
  import spark.implicits._

  test("connectedComponents: transitive closure across pairs never emitted") {
    // a-b and b-c were emitted as pairs, a-c never was; d-e is separate
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("da", "db")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: long chain converges within diameter rounds") {
    // a path graph is the worst case for min-label propagation
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("da", "db")
    val cc = Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
    assert(cc.length == 12 && cc.forall(_._2 == 1L))
  }

  test("connectedComponents: empty pair set yields empty assignment") {
    val pairs = Seq.empty[(Long, Long)].toDF("da", "db")
    assert(Dedup.connectedComponents(pairs).isEmpty)
  }

  test("connectedComponents matches reference union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 30
      val edges = Seq.fill(40)((rnd.nextInt(n), rnd.nextInt(n)))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b).toLong, math.max(a, b).toLong) }
        .distinct
      // reference union-find; attaching the larger root under the smaller
      // keeps every set's root = its min element, matching CC's label
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v.toInt).toLong).toMap
      val got = Dedup.connectedComponents(edges.toDF("da", "db"))
        .as[(Long, Long)].collect().toMap
      assert(got == want)
    }
  }

  test("canonicalPerCluster: best quality wins, singletons keep themselves") {
    val docs = Seq((1L, 0.5), (2L, 0.9), (3L, 0.7), (7L, 0.1))
      .toDF("doc_id", "q0")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "component")
    val out = Dedup.canonicalPerCluster(docs, comps, col("q0"))
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
    // cluster 1: doc 2 has top quality of 3 docs; doc 7 is a singleton
    assert(out.toSeq == Seq((1L, 2L, 0.9, 3L), (7L, 7L, 0.1, 1L)))
  }

  test("hashSplit: deterministic, total, and insertion-stable") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val splits = Seq(("train", 90), ("val", 5), ("test", 5))
    val a = Curation.hashSplit(docs, col("doc_id"), splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // dropping half the corpus must not move any surviving doc's split
    val b = Curation.hashSplit(docs.filter(col("doc_id") % 2 === 0),
        col("doc_id"), splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(b.forall { case (id, s) => a(id) == s })
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    // ~90/5/5: loose sanity bounds, not exact (hash, not stratified)
    val train = a.values.count(_ == "train").toDouble / a.size
    assert(train > 0.8 && train < 0.97)
  }

  test("quantileBand: rank endpoints respected with tiebreak") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("doc_id", "sc")
    val kept = Curation.quantileBand(df, col("sc"), col("doc_id"), 0.05, 0.95)
      .select("doc_id").as[Long].collect().sorted
    // percent_rank = (rank-1)/99: kept ranks 0.05*99+1 .. 0.95*99+1
    assert(kept.head == 6 && kept.last == 95)
  }

  test("chunkText: stride windows cover the text, last chunk short") {
    val docs = Seq((1L, "a" * 350, 350L), (2L, "", 0L))
      .toDF("doc_id", "text", "n_chars")
    val out = Curation.chunkText(docs, chunkChars = 200, stride = 150)
      .select("doc_id", "chunk_idx", "chunk_start", "chunk_chars")
      .as[(Long, Long, Long, Long)].collect().sortBy(t => (t._1, t._2))
    // 350 chars, stride 150 → starts 0/150/300; len 200/200/50; empty doc → none
    assert(out.toSeq == Seq((1L, 0L, 0L, 200L), (1L, 1L, 150L, 200L),
      (1L, 2L, 300L, 50L)))
  }

  test("rebalance: thresholds nest, untargeted strata untouched") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def ids(f: Map[String, Double]) =
      Curation.rebalance(docs, col("source"), col("doc_id"), f)
        .select("doc_id").as[Long].collect().toSet
    val all = docs.select("doc_id").as[Long].collect().toSet
    val half = ids(Map("src0" -> 0.5))
    val quarter = ids(Map("src0" -> 0.25))
    // hash thresholds nest: the 25% survivors are a subset of the 50%
    assert(quarter.subsetOf(half))
    // zero fraction empties the stratum; untargeted strata keep all rows
    val zero = ids(Map("src0" -> 0.0))
    val src0 = docs.filter(col("source") === "src0")
      .select("doc_id").as[Long].collect().toSet
    assert(zero == all -- src0)
  }

  test("tfidfTopTerms: rare term outranks common term") {
    val docs = Seq(
      (1L, "common rare common"), (2L, "common common"), (3L, "common"))
      .toDF("doc_id", "text")
    val top = text.TextAnalysis.tfidfTopTerms(docs, k = 1)
      .select("doc_id", "tok").as[(Long, String)].collect().toMap
    // "common" appears in every doc → idf = ln(1) = 0; "rare" wins doc 1
    assert(top(1L) == "rare")
    // docs 2/3 only contain zero-idf terms; tiebreak still yields a row
    assert(top(2L) == "common" && top(3L) == "common")
  }

  test("gopherMetrics: repetitive and stopword-free docs rejected") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near a river bank"),
      (2L, "spam spam spam spam spam spam spam spam spam eggs and the ham"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id") +: text.TextAnalysis.gopherMetrics(
        10, 1000, 2.0, 10.0, 0.2, 0.2): _*)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(1L))            // healthy prose
    assert(!out(2L))           // top_token_frac 9/13 > 0.2
    assert(!out(3L))           // no stopwords at all
  }

  test("scrub: emails, phones, and deny-list terms redacted and counted") {
    val docs = Seq((1L, "mail bob@example.com or call 555-123-4567 customer"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id") +:
        text.TextAnalysis.scrub(col("text"), Seq("customer", "vector")): _*)
      .as[(Long, Long, Long, Long, String)].collect().head
    assert(out == ((1L, 1L, 1L, 1L,
      // md5 of "mail <EMAIL> or call <PHONE> <REDACTED>"
      out._5)))
    val expected = docs.select(md5(
      lit("mail <EMAIL> or call <PHONE> <REDACTED>"))).as[String].collect().head
    assert(out._5 == expected)
  }

  test("incrementalDedup: within-batch collapse + corpus anti-join") {
    val corpus = Seq((10L, "old doc one"), (11L, "old doc two"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (20L, "old doc one"),     // already in corpus → dropped
      (21L, "fresh content a"), // new
      (22L, "fresh content a"), // within-batch dupe of 21 → collapsed
      (23L, "fresh content b")) // new
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, batch)
      .select("keep_id", "n_in_batch").as[(Long, Long)].collect().sorted
    assert(out.toSeq == Seq((21L, 2L), (23L, 1L)))
  }

  test("stratifiedSample: bounded per stratum and re-run stable") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val s1 = Curation.stratifiedSample(docs, col("source"), col("doc_id"), 5)
      .select("source", "doc_id").as[(String, Long)].collect()
    val s2 = Curation.stratifiedSample(docs, col("source"), col("doc_id"), 5)
      .select("source", "doc_id").as[(String, Long)].collect()
    assert(s1.sorted.sameElements(s2.sorted))
    assert(s1.groupBy(_._1).values.forall(_.length <= 5))
  }

  test("contamination: exact bench copy flagged, clean doc zero, short doc absent") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // verbatim copy → rate 1.0
      (2L, "one two three four five six seven"),   // disjoint → rate 0
      (3L, "too short"))                            // < n tokens → no n-grams
      .toDF("doc_id", "text")
    val out = graft.text.Decontaminate.contamination(train, bench, n = 5)
      .select("doc_id", "contamination_rate", "is_contaminated")
      .as[(Long, Double, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    assert(out(0)._2 == 1.0 && out(0)._3 == 1L)
    assert(out(1)._2 == 0.0 && out(1)._3 == 0L)
    val kept = graft.text.Decontaminate.removeContaminated(train, bench, n = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 3L)) // short doc survives: nothing to collide
  }

  test("contamination: partial overlap rate below threshold is not flagged") {
    // 10-token train doc shares exactly one 5-gram window region with bench
    val bench = Seq((100L, "p q r s t")).toDF("doc_id", "text")
    val train = Seq((1L, "a b c p q r s t x y")).toDF("doc_id", "text")
    val out = graft.text.Decontaminate.contamination(train, bench, n = 5,
        rateThreshold = 0.5)
      .select("n_ngrams", "n_hits", "is_contaminated")
      .as[(Long, Long, Long)].collect().head
    assert(out == ((6L, 1L, 0L))) // 6 windows, 1 collides, 1/6 < 0.5
  }

  test("packSequences: offsets partition the token stream; scalable twin identical") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the session's partitions, then three forced range partitions
    for (confs <- Seq(Nil, PrefixSpec.threePartitions)) withConfs(confs: _*) {
      val packed = Curation.packSequences(docs, seqLen = 64)
      val rows = packed.select("doc_id", "n_tokens", "start_offset")
        .as[(Long, Long, Long)].collect().sortBy(_._3)
      // consecutive docs tile the stream with no gaps or overlaps
      rows.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._2 == b._3); case _ =>
      }
      assert(rows.head._3 == 0L)
      val window = PrefixSpec.packSequencesWindow(docs, seqLen = 64)
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(packed.collect().map(_.toSeq).sortBy(_.toString).sameElements(window))
    }
  }

  test("lmScore: cross-entropy matches the closed form, rare tokens score higher") {
    val docs = Seq(
      (1L, "common common common common"),
      (2L, "common common common rare"))
      .toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.lmScore(docs)
      .select("doc_id", "xent").as[(Long, Double)].collect().toMap
    // corpus: 8 tokens, p(common)=7/8, p(rare)=1/8
    val lnC = BigDecimal(-math.log(7.0 / 8)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val lnR = BigDecimal(-math.log(1.0 / 8)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    assert(math.abs(out(1L) - (lnC * 4 / 4).toDouble) < 1e-9)
    assert(math.abs(out(2L) - ((lnC * 3 + lnR) / 4).toDouble) < 1e-9)
    assert(out(2L) > out(1L))
  }

  test("packingManifest: per-doc contributions sum to n_tokens, per-seq to seqLen") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val packed = Curation.packSequences(docs, seqLen = 64)
    val manifest = Curation.packingManifest(packed, seqLen = 64)
    val perDoc = manifest.groupBy("doc_id")
      .agg(sum("tokens_in_seq").as("t")).as[(Long, Long)].collect().toMap
    val expect = packed.select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(perDoc == expect)
    // every sequence except the final partial one holds exactly seqLen tokens
    val perSeq = manifest.groupBy("seq_id")
      .agg(sum("tokens_in_seq").as("t")).as[(Long, Long)].collect().sortBy(_._1)
    assert(perSeq.dropRight(1).forall(_._2 == 64L))
    assert(perSeq.last._2 <= 64L)
  }
}
