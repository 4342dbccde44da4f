package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Paths
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (lazy; one JVM-wide session is reused across
  * suites via getOrCreate). Built by [[GraftSession.builder]], so tests
  * run under exactly the keys the mains run under. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with the session confs set, then restore each one's
    * previous value (or unset it). */
  def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** A path named `name` under this JVM's test scratch dir, a
    * [[sources.Stage.work]] dir: removed when the JVM exits. */
  def scratch(name: String): String =
    s"${sources.Stage.work("test", "scratch")}/$name"

  /** The executed plan of `build` with AQE and broadcast joins off: the
    * static shuffle decisions EnsureRequirements makes around bucketed
    * scans, which tiny test frames would otherwise hide behind runtime
    * broadcasts. */
  def staticPlan(build: => DataFrame): SparkPlan =
    withConfs("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = build
      df.count()
      df.queryExecution.executedPlan
    }

  /** Every node of a physical plan, descending through AQE wrappers
    * (final executed plan, query stages, reused exchanges) and, with
    * `throughCaches`, into the plans cached frames were built from. */
  def allPlanNodes(p: SparkPlan, throughCaches: Boolean = false): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case m: InMemoryTableScanExec if throughCaches => Seq(m.relation.cachedPlan)
      case _ => p.children
    }
    p +: kids.flatMap(allPlanNodes(_, throughCaches))
  }

  /** A join side DIRECTLY fed by a bucketed scan: an unbroken
    * single-child chain (projections/filters/codegen shims — anything
    * unary) from the side's root down to a bucketed FileSourceScan.
    * Sides where the scan sits below another join/union/aggregate are
    * not direct — their exchanges shuffle a derived intermediate, which
    * is legitimate. */
  def chainToBucketScan(p: SparkPlan): Option[(Seq[SparkPlan], FileSourceScanExec)] =
    p match {
      case f: FileSourceScanExec =>
        if (f.bucketedScan) Some((Nil, f)) else None
      case u if u.children.size == 1 =>
        chainToBucketScan(u.children.head).map { case (c, f) => (u +: c, f) }
      case _ => None
    }
}

/** One Spark job as the listener bus saw it: `site`, the first `graft.`
  * frame of the call site that submitted it, or else of the SQL
  * execution it ran in (adaptive and broadcast stages are submitted from
  * Spark's own threads), `<unknown>` if neither has one;
  * `callSite`, the short call site Spark names the job by (`<Spark
  * method> at <file:line>`); and whether it ran inside a SQL execution. */
final case class LedgerJob(site: String, callSite: String, sql: Boolean) {
  /** A parquet schema inference: Spark's footer-merge job, which a
    * `DataFrameReader.parquet`/`load` submits while it resolves the
    * relation, outside any SQL execution (a parquet write's jobs run
    * inside one). */
  def schemaInference: Boolean =
    !sql && (callSite.startsWith("parquet at ") || callSite.startsWith("load at "))
}

/** A job ledger: the Spark jobs a block starts, each attributed to the
  * engine code that started it — where a pass's jobs come from, and which
  * of them are fixed per-call cost (schema inference, eager cuts). */
object JobLedger {

  /** The jobs `body` starts, in start order. */
  def during(sc: SparkContext)(body: => Unit): Seq[LedgerJob] = {
    // (own site, short call site, SQL execution id) per job, and each
    // SQL execution's site
    val jobs = new ConcurrentLinkedQueue[(Option[String], String, Option[Long])]
    val execSites = new ConcurrentHashMap[Long, String]
    def graftFrame(callStack: String): Option[String] =
      callStack.linesIterator.map(_.trim).find(_.startsWith("graft."))
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // the result stage is the job's newest; its name and details are
        // the submitting call site's short and long forms
        val result = e.stageInfos.maxBy(_.stageId)
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        jobs.add((graftFrame(result.details), result.name, exec))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          graftFrame(s.details).foreach(execSites.put(s.executionId, _))
        case _ =>
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(l)
    try {
      body
      ListenerDrain(sc)
    } finally sc.removeSparkListener(l)
    jobs.asScala.toSeq.map { case (own, callSite, exec) =>
      LedgerJob(own.orElse(exec.flatMap(id => Option(execSites.get(id))))
        .getOrElse("<unknown>"), callSite, exec.nonEmpty)
    }
  }

  /** Job counts by first `graft.` frame, largest first. */
  def bySite(jobs: Seq[LedgerJob]): Seq[(String, Int)] =
    jobs.groupMapReduce(_.site)(_ => 1)(_ + _).toSeq.sortBy(p => (-p._2, p._1))
}

/** Runs a main of this classpath in a fresh JVM, with the test JVM's
  * flags (module opens, spark.* properties) except its heap size and
  * collector, plus `jvmFlags`; returns its combined output lines, or
  * fails the test with their tail if it exits non-zero. */
object ChildJvm {
  import org.scalatest.Assertions.assert

  def run(mainClass: String, jvmFlags: Seq[String], args: String*): List[String] = {
    val inherited = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.matches("-XX:\\+Use\\w+GC"))
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
    val cmd = Seq(javaBin.toString) ++ inherited ++ jvmFlags ++
      Seq("-cp", System.getProperty("java.class.path"), mainClass) ++ args
    val proc = new ProcessBuilder(cmd.asJava)
      .directory(new File(".").getAbsoluteFile)
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor() == 0, out.takeRight(40).mkString("\n"))
    out
  }
}
