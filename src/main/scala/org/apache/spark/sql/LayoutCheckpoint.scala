package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, HashPartitioning, Partitioning}
import org.apache.spark.sql.execution.{InputRDDCodegen, LeafExecNode, LogicalRDD, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions.col
import org.apache.spark.util.CallSite

/** Eager local checkpoint that keeps a pinned hash layout visible to the
  * planner. [[graft.CacheScope.cut]] is the entry point; this lives under
  * `org.apache.spark.sql` for `Dataset.ofRows` (`private[sql]`).
  *
  * `Dataset.localCheckpoint` records the executed plan's output
  * partitioning, but under AQE that plan is an `AdaptiveSparkPlanExec`,
  * which reports `UnknownPartitioning(0)`: every join or aggregation on
  * the key then re-shuffles the checkpointed rows. Here the frame is
  * repartitioned `hash(key)` into `parts` and checkpointed, and its rows
  * are wrapped in a [[CutRelation]] that declares `HashPartitioning(key,
  * parts)` — but only when the final adaptive plan really produced that
  * layout (an empty input AQE folds to a local relation does not; that
  * cut stays a plain checkpoint), so the planner never trusts a layout
  * the rows do not have. `site` names the cut's SQL execution and jobs
  * (the short call site the UI and event logs show).
  */
object LayoutCheckpoint {

  /** Eager `localCheckpoint` of `df`, its SQL execution and jobs
    * described `site` — the plain cut, and [[hashCut]]'s fallback. */
  def checkpoint(df: DataFrame, site: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val prevSite = sc.getLocalProperty(CallSite.SHORT_FORM)
    sc.setLocalProperty(CallSite.SHORT_FORM, site)
    try df.localCheckpoint(eager = true)
    finally sc.setLocalProperty(CallSite.SHORT_FORM, prevSite)
  }

  def hashCut(df: DataFrame, key: String, parts: Int,
      site: String): DataFrame = {
    val pinned = df.repartition(parts, col(key)).asInstanceOf[classic.Dataset[Row]]
    val session = pinned.sparkSession
    val cut = checkpoint(pinned, site).asInstanceOf[classic.Dataset[Row]]
    val stub = cut.logicalPlan.asInstanceOf[LogicalRDD]
    val keyAt = stub.output.indexWhere(a => session.sessionState.conf.resolver(a.name, key))
    val ran = pinned.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the executed plan may name the key by another expression id than
    // the stub (the optimizer drops redundant aliases); columns line up
    // by position
    val kept = ran.output.size == stub.output.size &&
      ran.outputPartitioning.satisfies(ClusteredDistribution(
        Seq(ran.output(keyAt)), requiredNumPartitions = Some(parts))) &&
      stub.rdd.getNumPartitions == parts
    if (!kept) cut
    else {
      CutStrategy.install(session)
      val s = stub.computeStats()
      classic.Dataset.ofRows(session, CutRelation(stub.output, stub.rdd, keyAt, parts,
        Statistics(sizeInBytes = s.sizeInBytes, rowCount = s.rowCount)))
    }
  }
}

/** A layout-keeping cut: checkpointed rows, hash-partitioned on
  * `output(keyAt)` into `parts`. The layout is two integers, not a
  * partitioning expression, so two instances of one cut (a self join
  * renews the expression ids of one side) canonicalize alike, and cache
  * lookups and exchange reuse work across them. A `LogicalRDD` that
  * declares a `HashPartitioning` does not: its canonical form keeps the
  * partitioning's expression ids. */
case class CutRelation(output: Seq[Attribute], rdd: RDD[InternalRow], keyAt: Int,
    parts: Int, cutStats: Statistics) extends LeafNode with MultiInstanceRelation {
  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics = cutStats
  override def simpleString(maxFields: Int): String =
    s"CutRelation ${output.mkString("[", ",", "]")}, hash(${output(keyAt)}, $parts)"
}

/** Physical scan of a [[CutRelation]]: the checkpointed rows, reporting
  * the cut's hash layout. */
case class CutScanExec(output: Seq[Attribute], rdd: RDD[InternalRow], keyAt: Int,
    parts: Int) extends LeafExecNode with InputRDDCodegen {
  override def outputPartitioning: Partitioning = HashPartitioning(Seq(output(keyAt)), parts)
  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))
  override protected val createUnsafeProjection: Boolean = true
  override def inputRDD: RDD[InternalRow] = rdd
  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val schema = this.schema
    rdd.mapPartitionsWithIndexInternal { (index, iter) =>
      val proj = UnsafeProjection.create(schema)
      proj.initialize(index)
      iter.map { r =>
        numOutputRows += 1
        proj(r)
      }
    }
  }
  override def simpleString(maxFields: Int): String =
    s"Scan cut ${output.mkString("[", ",", "]")}, hash(${output(keyAt)}, $parts)"
}

/** Plans [[CutRelation]]. Added to a session's extra strategies on its
  * first cut, so any session can cut, with or without graft's
  * extensions. */
object CutStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: CutRelation => CutScanExec(c.output, c.rdd, c.keyAt, c.parts) :: Nil
    case _ => Nil
  }

  def install(session: SparkSession): Unit = {
    val exp = session.experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(this))
        exp.extraStrategies = this +: exp.extraStrategies
    }
  }
}
