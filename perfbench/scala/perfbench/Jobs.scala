package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.text.Pipelines.StageProbe

/** What one job sees: the session, the generated input dir, a run-owned
  * scratch dir for the job's own staging, and the curation seam probe
  * (the identity outside traced passes). */
final case class Ctx(spark: SparkSession, dir: String, scratch: String,
    probe: StageProbe)

/** A job is the construction of a query or composition (`plan`, which
  * may run eager Spark jobs) plus a terminal parquet write of its result
  * into a run-owned directory (the harness's). The write is what makes
  * the job's work real: a pruned plan cannot look fast when its rows must
  * land on disk. */
final case class Job(name: String, plan: Ctx => DataFrame)

/** The workloads' job lists, called through the program's public
  * functions only.
  *
  * Registry queries go through `SparkEntry.queries`, staging included
  * (see [[StageRedirect]] for where their stage lands). `Outbound.push`
  * is called directly with a run-owned stage path: the registry's
  * `q_outbound_*` go through `Outbound.shared`, which builds once per
  * JVM, so a timed repeat would be a memo hit. */
object Jobs {

  private lazy val registryFns = graft.SparkEntry.queries

  private def registry(name: String): Job =
    Job(name, c => registryFns(name)(c.spark, c.dir))

  // Each list is sized so that a warm pass takes about 10 s on four
  // cores: the benchmark's whole run budget (every workload, many seeds)
  // has to fit in under an hour.
  val etl: Seq[Job] = Seq(
    // EP1 prospect build + EP2 only-new delta, staged in scratch; the
    // reconcile report must be clean or the job fails
    Job("outbound_push", c => {
      val r = graft.Outbound.push(c.spark, c.dir, s"${c.scratch}/stage")
      require(r.report.ok, s"outbound reconcile report not clean: ${r.report}")
      r.docs
    }),
    registry("q_j1_star_decode"),
    registry("q_repair_ladder"),
    // partitioned overwrite, read back through partition discovery
    registry("q_s2_partitioned_sink"),
    // z-ordered stage + min/max-pruned range scan
    registry("q_skip_pruned_scan"),
    registry("q_f5_case_ladder"),
    // the incremental form of the same scan layer: RocksDB state kept
    // across maxFilesPerTrigger=1 micro-batches
    registry("q_stream_transform_state"))

  val curation: Seq[Job] = Seq(
    Job("q_flagship_curation",
      c => graft.Flagship.curationPipeline(c.spark, c.dir, probe = c.probe)))

  val stream: Seq[Job] = Seq(
    registry("q_stream_events_hourly"),
    registry("q_stream_stream_join"),
    registry("q_stream_transform_state"),
    registry("q_stream_merge_sink"))

  /** Timed passes a run makes at least. A curation pass is one job, so
    * one pass is one sample; two keep a single slow run of it from
    * setting the run's figures. */
  def minPasses(w: String): Int = if (w == "curation") 2 else 1

  val workloads: Map[String, Seq[Job]] =
    Map("etl" -> etl, "curation" -> curation, "stream" -> stream)

  def forWorkload(w: String): Seq[Job] = workloads.getOrElse(w,
    throw new IllegalArgumentException(s"unknown workload '$w'"))
}
