package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** The measurement mains' shared protocol: the one rep-major timing
  * loop ([[runReps]]) and the one median definition, so no bench can
  * drift from the label it prints.
  *
  * Loop protocol (PERF.md rounds 9–16): cells interleave WITHIN each
  * rep (rep-major, cell inner), so an A-vs-B comparison shares box
  * conditions rep by rep — back-to-back single-cell sessions on this
  * box drift 3–5× on the pair family, larger than any slope being
  * measured. Every run carries wall-clock epoch bounds so
  * `tools/attr_reps.py` can slice a Spark event log per rep. A cell
  * that throws is recorded as an error and the remaining cells still
  * run. The cache is cleared and a GC requested after every cell:
  * shuffle FILES are reclaimed by the ContextCleaner only once the
  * owning exchange RDDs are collected, and a barely-pressured 64g bench
  * heap can go a whole run without a collection — files then
  * accumulate until DISK, not any single query, is the limit (the r15
  * sf50x rep died ENOSPC under ~60 GB of PRIOR legs' shuffle files
  * while one leg's own peak fit with margin).
  *
  * Each run also counts the classes Spark's code generator compiled
  * while it ran ([[compiles]]): a class already in the JVM's
  * generated-class cache is reused, not compiled, so a warm rep's count
  * shows what the cache did not hold (see `GraftSession.builder`).
  * It also counts the collections the JVM's collectors ran meanwhile
  * and their summed time ([[gcs]]), so a peak-memory delta can be read
  * with the GC count that goes with it; the between-cell `System.gc()`
  * falls outside every run.
  */
object BenchStats {

  /** For even-length rep vectors this is the TRUE median (mean of the
    * two middle elements) — the former per-main `s(n/2)` was the upper
    * middle, which biased every even-rep "median" high. Odd-length
    * behavior is unchanged, so the committed 3- and 5-rep artifacts
    * compare like for like. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty rep vector")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** One measured cell: `leg` over `dir`. `run` performs the cell's
    * action and returns its row count; a cell whose wall has named
    * parts reports each through [[Rep.part]] as the part ends. */
  final case class Cell(dir: String, leg: String, run: Rep => Long)

  /** A named part of one rep of a cell. */
  final case class Part(name: String, rows: Long, secs: Double,
      t0Ms: Long, t1Ms: Long)

  /** Handed to a cell's `run` for one rep; collects the cell's parts. */
  final class Rep private[BenchStats] (val n: Int) {
    private val recorded = Vector.newBuilder[Part]

    /** Record a part of `secs` that ended just now; its epoch bounds
      * are taken back from the current time. */
    def part(name: String, secs: Double, rows: Long = 0L): Unit = {
      val t1 = System.currentTimeMillis()
      recorded += Part(name, rows, secs, t1 - math.round(secs * 1000), t1)
    }

    private[BenchStats] def parts: Seq[Part] = recorded.result()
  }

  /** One rep of one cell: wall seconds, epoch bounds, the classes the
    * code generator compiled meanwhile, the collections run meanwhile
    * and their milliseconds, the parts it reported, and the error
    * message if it threw (rows are then 0). */
  final case class Run(rep: Int, cell: Cell, rows: Long, secs: Double,
      t0Ms: Long, t1Ms: Long, compiles: Long, gcCount: Long, gcMs: Long,
      parts: Seq[Part], error: Option[String])

  /** Classes the code generator has compiled in this JVM so far: every
    * generated-class cache miss compiles once and records its time in
    * this histogram, whatever thread or session asked. */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Collections every collector of this JVM has run so far, and their
    * summed milliseconds (a collector that cannot tell reads -1, and
    * counts as 0). */
  def gcs(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionCount.max(0L)).sum,
      beans.map(_.getCollectionTime.max(0L)).sum)
  }

  /** Time every cell in order within each of `reps` reps, handing each
    * run to `report` as it completes. */
  def runReps(spark: SparkSession, reps: Int, cells: Seq[Cell])(
      report: Run => Unit): Seq[Run] =
    for (rep <- 1 to reps; cell <- cells) yield {
      val r = new Rep(rep)
      val c0 = compiles()
      val (g0, gMs0) = gcs()
      val e0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (rows, error) = try (cell.run(r), None) catch {
        case e: Throwable =>
          (0L, Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val e1 = System.currentTimeMillis()
      val c1 = compiles()
      val (g1, gMs1) = gcs()
      // drop caches so one cell's persisted lineage can't subsidize the
      // next cell's timing; the GC frees shuffle files (see above)
      spark.catalog.clearCache()
      System.gc()
      val run = Run(rep, cell, rows, secs, e0, e1, c1 - c0, g1 - g0,
        gMs1 - gMs0, if (error.isEmpty) r.parts else Nil, error)
      report(run)
      run
    }

  /** Every successful rep's seconds under one (dir, leg) label, plus
    * the first error any rep of it hit. */
  final case class Series(dir: String, leg: String, secs: Vector[Double],
      error: Option[String]) {
    def label: String = s"$dir#$leg"
    def median: Option[Double] =
      if (secs.isEmpty) None else Some(BenchStats.median(secs))
    def min: Option[Double] = secs.minOption
  }

  /** The runs as series in first-seen order: each part under (dir,
    * part name), ahead of its cell's own wall under (dir, leg). A rep
    * that threw adds no seconds, to its cell or to its parts. */
  def series(runs: Seq[Run]): Seq[Series] = {
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), Series]
    def add(dir: String, leg: String, secs: Option[Double],
        error: Option[String]): Unit = {
      val s = acc.getOrElse((dir, leg), Series(dir, leg, Vector.empty, None))
      acc((dir, leg)) = s.copy(secs = s.secs ++ secs,
        error = s.error.orElse(error))
    }
    for (r <- runs) {
      r.parts.foreach(p => add(r.cell.dir, p.name, Some(p.secs), None))
      add(r.cell.dir, r.cell.leg,
        if (r.error.isEmpty) Some(r.secs) else None, r.error)
    }
    acc.values.toSeq
  }
}
