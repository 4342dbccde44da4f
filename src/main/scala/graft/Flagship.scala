package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.functions.Scalars
import graft.operators._

/** Flagship end-to-end pipeline — the reference's main structured-prospect
  * build (`FULL:188-1450`, SURVEY.md §3 EP1) re-composed over the test
  * star schema (FIXTURES.md §c roles): decode star (stage1) → enum recodes
  * (stage2) → cascading dealer repair ladder (stage3-4) → ambiguous-name
  * suffixing (stage5+) → surrogate key → nested document assembly (the
  * outbound shape, `PUSH:239-345`).
  *
  * Every join is broadcast (dims are KB–MB); the fact is never shuffled
  * except by the final surrogate key's range partitioning and local rank
  * (`Prefix`) — the same plan shape survives a 1000-executor 100 TB run.
  */
object Flagship {

  def prospectPipeline(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val customer = Tables.load(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    val supplier = Tables.load(spark, dir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")

    // stage1 — decode star (FULL:331-505): stringmap dim + broadcast joins.
    val stringmap =
      nation.select(lit("nation_name").as("attributename"),
        col("n_nationkey").cast("string").as("attributevalue"),
        col("n_name").as("value"))
      .unionByName(region.select(lit("region_name").as("attributename"),
        col("r_regionkey").cast("string").as("attributevalue"),
        col("r_name").as("value")))
    val stage1 = {
      val f = orders
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"), "left")
        .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"), "left")
        .withColumn("c_nationkey_s", col("c_nationkey").cast("string"))
        .withColumn("n_regionkey_s", col("n_regionkey").cast("string"))
      DecodeJoin.decodeStar(f, stringmap, Seq(
        ("nation_name", "c_nationkey_s", "nation_name"),
        ("region_name", "n_regionkey_s", "region_name")))
        .drop("c_nationkey_s", "n_regionkey_s", "n_nationkey", "n_regionkey")
    }

    // stage2 — enum recodes (FULL:599-645) + default fill (FULL:497-500).
    val stage2 = Scalars.defaultFill(
      stage1
        .withColumn("channel", Scalars.caseLadder(col("o_orderpriority"),
          Seq("1-URGENT" -> "DIRECT", "2-HIGH" -> "DEALER", "3-MEDIUM" -> "WEB"),
          lit("OTHER")))
        .withColumn("prospect_type", Scalars.caseLadder(col("o_orderstatus"),
          Seq("F" -> "CLOSED", "O" -> "OPEN"), lit("PENDING")))
        .withColumn("created_date", Scalars.ddMMyyyy(col("o_orderdate"))),
      Map("c_name" -> lit("UNKNOWN"), "c_mktsegment" -> lit("NA")))

    // stage3-4 — lob split + cascading dealer repair ladders
    // (FULL:710-1058): the reference runs a 5-round ladder for the Sales
    // lob and a 3-round one for TV, then unionAlls the branches (U1).
    // Here: DIRECT/DEALER channels get the 2-round ladder (tight key
    // includes the nation match), everything else a 1-round ladder —
    // different rungs per lob, reunited by name.
    val base = stage2.withColumn("k1", col("o_custkey") % 150)
    val dimCols = Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val dedupOrder = Seq(col("s_acctbal").desc, col("s_suppkey"))
    val defaults = Map(
      "s_suppkey" -> lit(-1L), "s_name" -> lit("DEFAULT"),
      "s_nationkey" -> lit(-1), "s_acctbal" -> lit(0.0))
    val salesLob = base.filter(col("channel").isin("DIRECT", "DEALER"))
    val tvLob = base.filter(!col("channel").isin("DIRECT", "DEALER"))
    // dedup on the broadcast side, zero fact shuffles (RepairJoin)
    val repairedSales = RepairJoin.equiLadder(salesLob, supplier, dimCols,
      rounds = Seq(
        Seq("k1" -> "s_suppkey", "c_nationkey" -> "s_nationkey"),
        Seq("k1" -> "s_suppkey")),
      dedupOrder, defaults)
    val repairedTv = RepairJoin.equiLadder(tvLob, supplier, dimCols,
      rounds = Seq(Seq("k1" -> "s_suppkey")),
      dedupOrder, defaults)
    val repaired = repairedSales.unionByName(repairedTv)

    // stage5+ — model/variant master joins with ambiguous-name suffixing
    // (FULL:1061-1180, J5/J6): part plays the model master; duplicate
    // p_name gets a disambiguating suffix like the reference's modelDesc.
    val part = Tables.load(spark, dir, "part")
      .select("p_partkey", "p_name", "p_brand", "p_type")
    val dupNames = part.groupBy(col("p_name")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select(col("p_name").as("__dup_name"))
    val modelMaster = part
      .join(broadcast(dupNames), part("p_name") === col("__dup_name"), "left")
      .select(col("p_partkey"),
        when(col("__dup_name").isNotNull,
          concat(col("p_name"), lit("-"), col("p_partkey").cast("string")))
          .otherwise(col("p_name")).as("model_desc"),
        col("p_brand").as("model_code"), col("p_type").as("variant_desc"))
    val stage5 = repaired
      .join(broadcast(modelMaster),
        repaired("o_orderkey") % 2000 === modelMaster("p_partkey"), "left")
      .drop("p_partkey")

    // channel-correction IN-list ladder + default model injection
    // (FULL:1248-1294) and VOC/queryDescription assembly with the
    // 2000-char truncation (FULL:1233-1243).
    val stage6 = stage5
      .withColumn("channel",
        when(col("channel") === "OTHER" &&
          col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"), lit("DEALER"))
          .otherwise(col("channel")))
      .withColumn("model_desc", coalesce(col("model_desc"), lit("UNKNOWN-MODEL")))
      .withColumn("variant_desc", coalesce(col("variant_desc"), lit("STD")))
      .withColumn("query_description",
        substring(concat_ws(" | ",
          col("prospect_type"), col("nation_name"), col("model_desc"),
          col("s_name")), 1, 2000))

    // surrogate key (FULL:413) — Prefix offsets, no global sort.
    val keyed = TopK.surrogateKey(stage6, col("o_orderkey"),
      "PM", 9, "prospect_id")

    // nested document (PUSH:239-345) + final select (FULL:1352-1439).
    val doc = keyed.select(
      col("prospect_id"),
      col("o_orderkey").cast("string").as("leadid"),
      struct(
        col("channel"), col("created_date").as("createdDate"),
        col("o_orderpriority").as("sourceCode")).as("administration"),
      struct(
        col("c_name").as("name"), col("c_mktsegment").as("segment"),
        col("nation_name").as("nation"), col("region_name").as("region"),
        col("c_acctbal").as("balance")).as("customerDetails"),
      struct(
        col("s_suppkey").as("dealerCode"), col("s_name").as("dealerName"),
        col("s_acctbal").as("dealerScore")).as("dealerDetails"),
      struct(
        col("o_totalprice").as("totalPrice"),
        col("o_orderstatus").as("status"),
        col("prospect_type").as("prospectType")).as("purchaseDetails"),
      struct(
        col("model_desc").as("modelDesc"),
        col("model_code").as("modelCode"),
        col("variant_desc").as("variantDesc"),
        col("query_description").as("queryDescription")).as("vehicleDetails"),
      struct(Documents.questionnaire(Seq(
        "QM004" -> Seq(col("c_mktsegment")),
        "QM005" -> Seq(col("o_orderpriority"), col("o_orderstatus"))
      )).as("interests")).as("enrollmentDetails"),
      // constant-column block (FULL:1321-1349: ~24 literal columns) +
      // snapshot stamp (FULL:1447)
      struct(
        lit("GRAFT").as("orgCode"), lit("IN").as("countryCode"),
        lit("1.0").as("schemaVersion"), lit(false).as("isDeleted"),
        lit(null).cast("string").as("legacyRef"),
        current_timestamp().as("snapshotTs")).as("audit"))
    Documents.nullifyStructWhen(doc, "enrollmentDetails",
      col("purchaseDetails.status") === lit("O"))
  }

  /** The 100 TB LLM-corpus curation flagship — the round-12 operators
    * composed end-to-end as THE default operating path (verdict r12
    * #5), each in its scale mode:
    * (1–4) the shared lexical ladder ([[graft.text.Pipelines
    *       .lexicalClean]]) with the CAPPED containment candidate pass
    *       — candidate mass ≤ 128·n_docs by construction;
    * (5)   SemDeDup on the survivors' embeddings — the assignment
    *       dispatches the exact two-level path once flat n·k work
    *       crosses the measured budget (output is provably identical,
    *       Round12Spec); documents without an embedding pass through,
    *       like the modality-agreement audit;
    * (6)   the DISTILLED quality gate in its production shape: the
    *       Gopher teacher labels a bounded sample (doc_id % 4 — the
    *       student trains on O(sample), not O(corpus)), and the learned
    *       ≤ dim+5-double vector scores the survivors with one
    *       broadcast join + one per-doc sum;
    * (7)   deterministic-hash sequence packing.
    * Full/exact modes remain the oracle-gated twins
    * (`q_pretrain_full`, `q_quality_distilled`).
    *
    * Construction is eager (the bench contract: construction + one
    * action is the whole cost): the ladder's four cuts and the two seam
    * cuts EXECUTE stages 1–5, the SemDeDup dispatch reads driver scalars
    * and trainGate runs its GD rounds (one Spark job each) while the
    * frame is being BUILT. Each cut truncates the logical plan at a scan
    * of its checkpointed rows, so a plan-only consumer (graft.Explain)
    * prints that short plan, after paying the cuts — a few seconds at
    * sf0.01.
    *
    * `probe`: stage-seam attribution hook, identity by default (see
    * [[graft.text.Pipelines.StageProbe]]) — `LegBench flagship` passes
    * a materializing probe to read per-stage walls off the production
    * composition. */
  def curationPipeline(spark: SparkSession, dir: String,
      probe: graft.text.Pipelines.StageProbe =
        graft.text.Pipelines.noProbe): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // the two composition seams are cut on doc_id (CacheScope): later
    // stages re-read them along MANY branches (clean feeds the semantic
    // filter, the anti join, and — through corpus — scoring, gating and
    // packing; uncut, a 2 GB plan string at sf0.01), and the doc_id
    // joins below read the kept layout with no Exchange
    val clean = probe("s6_checkpoint_clean", graft.CacheScope.cut(
      graft.text.Pipelines.lexicalClean(docs, capped = true, probe),
      "doc_id"))
    // stage 5: semantic near-dup drop on the survivors' embeddings
    val emb = Tables.load(spark, dir, "embeddings")
    val embSurv = emb.join(clean.select(col("doc_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    val semDrop = probe("s7_semdedup_drops", graft.similarity.SemDedup
      .semDedup(embSurv, k = 8, iters = 2, tau = 0.35)
      .filter(!col("keep")).select(col("vec_id").as("doc_id")))
    val corpus = probe("s8_checkpoint_corpus", graft.CacheScope.cut(
      clean.join(semDrop, Seq("doc_id"), "left_anti"), "doc_id"))
    // stage 6: distilled gate — train on the teacher-labeled sample,
    // score the survivors (the probed hyperparameters: 20 rounds, lr 16)
    val w = graft.text.Distill.trainGate(
      docs.where(col("doc_id") % 4 === 0),
      graft.text.TextAnalysis.gopherMetrics(
        10, 1000, 2.0, 10.0, 0.2, 0.2).last,
      dim = 64, iters = 20, lr = 16.0)
    val keepIds = graft.text.Distill.scoreGate(corpus, w, dim = 64)
      .filter(col("predicted") === 1L).select(col("doc_id"))
    // s9's probe delta also carries trainGate's feature-cache build and
    // GD round jobs (everything since the s8 seam) — deliberate: the
    // distilled gate's cost IS train + score, and the two never recur
    // separately
    val gated = probe("s9_distill_gate",
      corpus.join(keepIds, Seq("doc_id"), "left_semi"))
    graft.text.Curation.packSequences(gated, seqLen = 128)
  }
}
