package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Delta
import graft.sources.{Sinks, Stage, Tables}

/** EP2 — the outbound datalake → document-store job (`PUSH`, SURVEY.md §3):
  * read the structured output, select only-new documents via the
  * coalesce-guarded anti join, cut lineage through a parquet stage, and
  * validate with the symmetric-MINUS reconciliation before hand-off.
  * The document-store write itself (`PUSH:349-350`) is connector config;
  * its semantics — the nested document shape — are what `staged` carries.
  */
object Outbound {

  final case class PushResult(docs: DataFrame, report: Delta.ReconcileReport)

  /** Stage-once, consume-many: EP2 stages its outbound delta docs ONE
    * time per source snapshot, and every downstream consumer (the flat
    * validation view, the nested materialization) reads the same staged
    * parquet — exactly the production topology, where re-running the
    * entire upstream prospect pipeline per consumer is the anti-pattern
    * (the flagship output is a materialized table, not a view). The
    * memo is keyed by source dir within this JVM; the first consumer
    * pays the full build (flagship → delta → stage write + reconcile),
    * later consumers re-open the on-disk stage. The returned DataFrame
    * is re-created from the stage path on every call so a caller's
    * CacheScope can't unpersist another consumer's lineage. */
  private val sharedStages =
    new java.util.concurrent.ConcurrentHashMap[String, Delta.ReconcileReport]()

  /** The sanitized dir name alone is lossy ('target/sf1x' and
    * 'target_sf1x' collide); an md5 suffix of the RAW dir makes the
    * stage path injective so two sources can never share one stage.
    * The computeIfAbsent build-once cache is JVM-local, so the path is
    * too: a [[Stage.work]] dir, owned by this process and removed when
    * it exits. */
  private[graft] def sharedStagePath(dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    Stage.work("outbound_shared", s"${dir}_$digest")
  }

  def shared(spark: SparkSession, dir: String): PushResult = {
    val stagePath = sharedStagePath(dir)
    val report = sharedStages.computeIfAbsent(dir,
      _ => push(spark, dir, stagePath).report)
    PushResult(Tables.read(spark, stagePath), report)
  }

  def push(spark: SparkSession, dir: String,
      stagePath: String = s"${Stage.root}/outbound"): PushResult = {
    // the pipeline output feeds the delta's both sides + validation: cut
    // it (eager checkpoint, pinned hash(leadid)) instead of re-running
    // the whole build per consumer. A persist here nests the prospect
    // build's cached plan under every consumer, and the reconcile
    // action re-rendered it all (plus AQE's copies) as plan text
    val prospects = CacheScope.cut(Flagship.prospectPipeline(spark, dir),
      "leadid")

    // runtime schema introspection before trusting the target collection
    // (`if 'leadid' in df_docdb.columns`, PUSH:206)
    val docdb = prospects
      .filter(col("leadid").cast("long") % 2 === 0)
      .select("leadid") // stand-in for the existing collection's keys
    require(docdb.columns.contains("leadid"), "target collection lacks leadid")

    // only-new delta (PUSH:207-224) + stage-out lineage cut (PUSH:227-229).
    // cut: the delta is consumed by the stage write and by reconcile's
    // one-shuffle diff — uncut, each re-runs the anti join over the full
    // prospect frame. The anti join reads the prospects cut on leadid
    // with no Exchange on that side
    val delta = CacheScope.cut(
      Delta.newKeysOnly(prospects, docdb, "leadid", "leadid", lit("")),
      "leadid")
    val staged = Sinks.stageOut(spark, delta, stagePath)

    // validation block (PUSH:369-457): staged must equal the delta
    val report = Delta.reconcile(
      delta.select(col("leadid")), staged.select(col("leadid")))
    PushResult(staged, report)
  }
}
