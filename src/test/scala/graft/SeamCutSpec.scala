package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Delta
import graft.sources.Sinks
import graft.text.{Decontaminate, Dedup, Pipelines, TextAnalysis}

/** The seam-cut contract: `Pipelines.lexicalClean` and `Outbound.push`
  * cut their re-referenced frames with `CacheScope.cut` (eager, layout-
  * keeping checkpoints). Their persist forms are kept below verbatim as
  * the reference, and the cut forms must give the same rows — on the
  * fixture for both candidate passes, and on the inputs the fixtures
  * never reach: an empty corpus, a corpus of only the `src0` benchmark
  * slice, a single document, and NULL or empty text.
  */
class SeamCutSpec extends SparkSuite {

  // ---- reference: the persist forms, verbatim ----

  private def lexicalCleanPersisted(docs: DataFrame, capped: Boolean): DataFrame = {
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val corpus0 = graft.CacheScope.persist(
      docs.where(col("source") =!= "src0").repartition(parts, col("doc_id")))
    val shC = graft.CacheScope.persist(Dedup.shingles(corpus0))
    val cpairs =
      if (capped) Dedup.containmentPairsCapped(shC, 0.9, withSizes = true)
      else Dedup.prefixContainmentPairs(shC, 0.9, withSizes = true)
    val cdrops = cpairs
      .select(when(col("na") < col("nb"), col("da"))
        .when(col("nb") < col("na"), col("db"))
        .otherwise(greatest(col("da"), col("db"))).as("doc_id"))
    val spanDrops = Dedup.repeatedSpanProfile(corpus0, k = 8)
      .filter(col("mostly_dup")).select(col("doc_id"))
    val corpus1 = graft.CacheScope.persist(
      corpus0.join(cdrops.unionByName(spanDrops).distinct(),
          Seq("doc_id"), "left_anti")
        .repartition(parts, col("doc_id")))
    val sh1 = shC.join(corpus1.select(col("doc_id")), Seq("doc_id"),
      "left_semi")
    val cc = Dedup.connectedComponents(Dedup.lshCandidates(
      Dedup.minhashSignatures(sh1))
      .select(col("da"), col("db")))
    val keepers = graft.CacheScope.persist(
      Dedup.canonicalPerCluster(corpus1, cc, TextAnalysis.qualityScore)
        .select(col("keep_id").as("doc_id")))
    val corpus2 = corpus1.join(keepers, "doc_id")
    val bench = docs.where(col("source") === "src0")
    val contaminated = Decontaminate.contaminationFromShingles(
        shC.join(keepers, Seq("doc_id"), "left_semi"), bench,
        n = 3, rateThreshold = 0.2)
      .filter(col("is_contaminated") === 1L)
      .select(col("doc_id"))
    corpus2.join(contaminated, Seq("doc_id"), "left_anti")
  }

  private def pushPersisted(spark: SparkSession, dir: String,
      stagePath: String): Outbound.PushResult = {
    val prospects = CacheScope.persist(Flagship.prospectPipeline(spark, dir))
    val docdb = prospects
      .filter(col("leadid").cast("long") % 2 === 0)
      .select("leadid")
    require(docdb.columns.contains("leadid"), "target collection lacks leadid")
    val delta = CacheScope.persist(
      Delta.newKeysOnly(prospects, docdb, "leadid", "leadid", lit("")))
    val staged = Sinks.stageOut(spark, delta, stagePath)
    val report = Delta.reconcile(
      delta.select(col("leadid")), staged.select(col("leadid")))
    Outbound.PushResult(staged, report)
  }

  // ---- inputs ----

  private def fixture = sources.Tables.load(spark, sf, "documents")

  /** Fixture documents of one non-benchmark source plus the src0 slice,
    * with NULL and empty text added to both sides. */
  private def blankText: DataFrame = {
    import spark.implicits._
    val blanks = Seq(
      (900001L, null.asInstanceOf[String], "en", "src1", 0L),
      (900002L, "", "en", "src1", 0L),
      (900003L, null.asInstanceOf[String], "en", "src0", 0L),
      (900004L, "", "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    fixture.where(col("source").isin("src0", "src1")).unionByName(blanks)
  }

  private def edgeInputs: Seq[(String, DataFrame)] = Seq(
    "empty corpus" -> fixture.limit(0),
    "all-src0 corpus" -> fixture.withColumn("source", lit("src0")),
    "one document" -> fixture.where(col("source") =!= "src0")
      .orderBy(col("doc_id")).limit(1),
    "NULL and empty text" -> blankText)

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getAs[Long]("doc_id"))

  private def assertTwins(what: String, docs: DataFrame, capped: Boolean): Unit =
    CacheScope.scoped {
      val cut = sortedRows(Pipelines.lexicalClean(docs, capped))
      val persisted = sortedRows(lexicalCleanPersisted(docs, capped))
      assert(cut === persisted, s"$what, capped=$capped: cut and persist forms differ")
    }

  for (capped <- Seq(true, false)) {
    test(s"lexicalClean(capped=$capped): cut form equals the persist form on the fixture") {
      assertTwins("sf0.001", fixture, capped)
    }
    test(s"lexicalClean(capped=$capped): cut form equals the persist form on edge inputs") {
      edgeInputs.foreach { case (what, docs) => assertTwins(what, docs, capped) }
    }
  }

  test("lexicalClean keeps rows on the fixture and none on an all-src0 corpus") {
    CacheScope.scoped {
      assert(Pipelines.lexicalClean(fixture, capped = true).count() > 0)
      assert(Pipelines.lexicalClean(
        fixture.withColumn("source", lit("src0")), capped = true).isEmpty)
    }
  }

  test("Outbound.push: cut form gives the persist form's report and staged rows") {
    // the audit stamp is current_timestamp(), different per build
    def staged(r: Outbound.PushResult): Seq[Row] =
      r.docs.withColumn("audit", col("audit").dropFields("snapshotTs"))
        .collect().toSeq.sortBy(_.getAs[String]("leadid"))
    CacheScope.scoped {
      val cut = Outbound.push(spark, sf, scratch("seam_cut_push"))
      val persisted = pushPersisted(spark, sf, scratch("seam_persist_push"))
      assert(cut.report.ok && cut.report === persisted.report)
      val rows = staged(cut)
      assert(rows.nonEmpty)
      assert(rows === staged(persisted))
    }
  }

  test("flagship stage probe: per-stage seams fire in order and reproduce the unprobed output") {
    CacheScope.scoped {
      val seen = scala.collection.mutable.ArrayBuffer.empty[String]
      val probe: graft.text.Pipelines.StageProbe = (name, df) => {
        seen += name
        val p = CacheScope.persist(df)
        p.count()
        p
      }
      val probed = Flagship.curationPipeline(spark, sf, probe = probe)
        .collect().toSet
      val plain = Flagship.curationPipeline(spark, sf).collect().toSet
      assert(probed == plain, "probe mode changed the composition's output")
      assert(seen.toSeq == Seq("s1_containment_drops", "s2_span_drops",
        "s3_lexical_survivors", "s4_cc_keepers", "s5_decontaminate_hits",
        "s6_checkpoint_clean", "s7_semdedup_drops", "s8_checkpoint_corpus",
        "s9_distill_gate"),
        s"stage seams out of order: $seen")
    }
  }
}
