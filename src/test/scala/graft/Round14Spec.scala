package graft

import org.apache.spark.sql.functions._

import graft.sources.DocCollection

/** Round-14 seams: the bounded-sample document-collection reader's
  * unit contracts (the r13 queries pin the end-to-end hashes; these
  * pin the WHY at the operator level), the staged-fixture idempotence
  * that makes the registered queries read-only, and the state-store
  * knob's empty-env contract (the one-line bug that invalidated the
  * r13 A/B campaign).
  */
class Round14Spec extends SparkSuite {

  private def coll: String = DocCollection.stageFixture(spark, sf)

  test("bounded-sample inference stops at the file-aligned horizon") {
    // head shard holds >= 400 docs at every sf, so a 256-doc sample
    // never reaches the tail shard: the inferred schema must MISS the
    // tail-only fields entirely
    val sampled = DocCollection.inferSampledSchema(spark, coll, 256L)
    assert(!sampled.fieldNames.contains("leadid"), sampled.treeString)
    assert(!sampled.fieldNames.contains("extra_score"), sampled.treeString)
    // a horizon past the head shard picks them up
    val full = DocCollection.inferSampledSchema(spark, coll, 1000000L)
    assert(full.fieldNames.contains("leadid"), full.treeString)
    assert(full.fieldNames.contains("extra_score"), full.treeString)
  }

  test("sampled read parses tail docs but silently drops unsampled fields") {
    val df = DocCollection.readSampled(spark, coll, 256L)
    val total = spark.read.option("recursiveFileLookup", "true")
      .json(coll).count()
    // every document parses (PERMISSIVE), none are dropped
    assert(df.count() == total)
    // ...but the tail-only fields are invisible to the whole frame
    assert(!df.columns.contains("leadid"))
    assert(!df.columns.contains("extra_score"))
  }

  test("leadid guard: absent column -> typed null; present -> string cast") {
    val absent = DocCollection.withLeadidGuard(
      DocCollection.readSampled(spark, coll, 256L))
    assert(absent.columns.contains("leadid"))
    assert(absent.schema("leadid").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(absent.filter(col("leadid").isNotNull).count() == 0)
    val present = DocCollection.withLeadidGuard(
      spark.read.option("recursiveFileLookup", "true").json(coll))
    assert(present.schema("leadid").dataType ==
      org.apache.spark.sql.types.StringType)
    // the tail shard's keys survive the present branch
    assert(present.filter(col("leadid").isNotNull).count() > 0)
  }

  test("stageFixture is idempotent and keyed by input dir") {
    val first = coll
    // marker honored: a second call must not rewrite the shards
    val headFile = new java.io.File(s"$first/a_head").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .minBy(_.getName)
    val stamp = headFile.lastModified()
    assert(DocCollection.stageFixture(spark, sf) == first)
    assert(headFile.lastModified() == stamp,
      "second stageFixture call rewrote the staged shard")
    // a different input dir stages at a different path (the r13
    // fixed-path hazard: two sfs overwriting each other mid-read)
    assert(DocCollection.stageFixture(spark, "/root/testdata/sf0.01")
      != first)
  }

  test("incremental LSH dedup agrees with the full-corpus candidate set") {
    // a new-batch doc (doc_id % 4 = 0) is dropped by the index-join
    // path IFF the full-corpus lshCandidates pair set links it to a
    // corpus doc or a smaller same-batch doc — the two computations
    // share no code path beyond bandIndex, so agreement pins the
    // blame-rule rewrite
    import graft.text.Dedup
    import graft.sources.Tables
    graft.CacheScope.scoped {
      val docs = Tables.load(spark, sf, "documents")
      val pairs = Dedup.lshCandidates(
        Dedup.minhashSignatures(Dedup.shingles(docs)))
      // pairs are (da < db); a new doc `n` is linked when it appears
      // as db against any corpus doc or smaller new doc (da < n always
      // satisfies the blame rule), or as da against a corpus doc
      val dropByPairs = pairs
        .filter(col("db") % 4 === 0)
        .select(col("db").as("doc_id"))
        .unionByName(pairs
          .filter(col("da") % 4 === 0 && col("db") % 4 =!= 0)
          .select(col("da").as("doc_id")))
        .distinct()
      val corpusIdx = Dedup.bandIndex(Dedup.minhashSignatures(
        Dedup.shingles(docs.where(col("doc_id") % 4 =!= 0))))
      val inc = Dedup.incrementalLshDedup(
        docs.where(col("doc_id") % 4 === 0), corpusIdx)
      val dropByInc = inc.filter(!col("keep")).select(col("doc_id"))
      assert(dropByInc.exceptAll(dropByPairs).isEmpty,
        "incremental dropped a doc the full candidate set never linked")
      assert(dropByPairs.exceptAll(dropByInc).isEmpty,
        "incremental missed a linked doc")
    }
  }

  test("incremental LSH dedup invariants on a seeded near-dup corpus") {
    // synthetic corpus engineered for collisions: 120 docs drawn from a
    // 6-token pool (many shared shingles), fixed seed — the invariants
    // must hold for ANY corpus, the near-dup density just makes the
    // blame paths non-trivial
    import graft.text.Dedup
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pool = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (0L until 120L).map { i =>
      val n = 3 + rnd.nextInt(6)
      (i, Seq.fill(n)(pool(rnd.nextInt(pool.size))).mkString(" "))
    }.toDF("doc_id", "text")
    graft.CacheScope.scoped {
      val corpus = docs.where(col("doc_id") % 3 =!= 0)
      val batch = docs.where(col("doc_id") % 3 === 0)
      // CacheScope.persist, not bare .persist(): the scoped block only
      // unpersists scope-registered frames — a bare persist would leak
      // cached partitions into the suite's shared session
      val idx = graft.CacheScope.persist(Dedup.bandIndex(
        Dedup.minhashSignatures(Dedup.shingles(corpus))))
      val out = Dedup.incrementalLshDedup(batch, idx)
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
      val batchIds = (0L until 120L).filter(_ % 3 == 0).toSet
      val corpusIds = (0L until 120L).filterNot(_ % 3 == 0).toSet
      // (1) exactly one row per batch doc
      assert(out.map(_._1).toSet == batchIds && out.size == batchIds.size)
      // (2) keep ⟺ no blame
      assert(out.forall { case (_, keep, dup) => keep == dup.isEmpty })
      // (3) blame is a corpus id or a strictly smaller batch id
      assert(out.forall { case (id, _, dup) => dup.forall(d =>
        corpusIds(d) || (batchIds(d) && d < id)) })
      // (4) monotonicity: growing the corpus index never flips a drop
      // back to keep (more index entries can only add blame)
      val idx2 = Dedup.bandIndex(Dedup.minhashSignatures(
        Dedup.shingles(docs.where(col("doc_id") % 3 =!= 0 ||
          col("doc_id") >= 60))))
      val dropped1 = out.filterNot(_._2).map(_._1).toSet
      val dropped2 = Dedup.incrementalLshDedup(
          batch.where(col("doc_id") < 60), idx2)
        .filter(!col("keep")).collect().map(_.getLong(0)).toSet
      assert(dropped1.filter(_ < 60).subsetOf(dropped2),
        "a doc dropped against the smaller index kept against the larger")
    }
  }
}
