package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval: run → setup → pass → job → {plan → seam, action}.
  * Times are epoch milliseconds so Spark's own event times line up. */
final class Span(val id: Long, val parent: Long, val kind: String,
    var name: String, val start: Long) {
  var end: Long = -1L
  def group: String = s"pb-$id"
}

/** In-memory span recorder. While `on`, opening a span also points the
  * calling thread's Spark job group at it, so every Spark job the span
  * starts carries the span id; the listener turns those jobs (and their
  * stages) into child spans. Off, every call is a pass-through. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 0L
  var on = false

  def open(kind: String, name: String): Span = {
    nextId += 1
    val s = new Span(nextId, stack.headOption.fold(0L)(_.id), kind, name,
      System.currentTimeMillis())
    if (on) {
      spans += s
      sc.setJobGroup(s.group, s"$kind:$name", interruptOnCancel = false)
    }
    stack = s :: stack
    s
  }

  def close(s: Span): Unit = {
    s.end = System.currentTimeMillis()
    stack = stack.dropWhile(_ ne s).drop(1)
    if (on) stack.headOption match {
      case Some(p) => sc.setJobGroup(p.group, s"${p.kind}:${p.name}", interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  def discard(s: Span): Unit = { close(s); spans -= s }

  def within[T](kind: String, name: String)(body: => T): T = {
    val s = open(kind, name)
    try body finally close(s)
  }
}

/** Task-level totals of one Spark job. */
final class JobRec(val jobId: Int, val group: String, val submit: Long) {
  var end = -1L
  var succeeded = false
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inBytes = 0L
  var inRecords = 0L
  var outBytes = 0L
  var outRecords = 0L
}

final class StageRec(val stageId: Int, val jobId: Int) {
  var submit = -1L
  var end = -1L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

/** Spark-execution counters, gathered only while `on`. Every read goes
  * through [[drain]] first: listener events arrive asynchronously. */
final class ExecListener extends SparkListener {
  @volatile var on = false
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var rddBytes = 0L
  var peakRddBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs(e.jobId) = new JobRec(e.jobId, group, e.time)
      e.stageIds.foreach { s =>
        stageJob.getOrElseUpdate(s, e.jobId)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.succeeded = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageJob.get(id).filter(jobs.contains).foreach { j =>
      val r = stages.getOrElseUpdate(id, new StageRec(id, j))
      r.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { r =>
      r.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); rec <- jobs.get(j)) {
      rec.tasks += 1
      if (e.reason != Success) rec.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        rec.cpuNs += m.executorCpuTime
        rec.runMs += m.executorRunTime
        rec.gcMs += m.jvmGCTime
        rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.inBytes += m.inputMetrics.bytesRead
        rec.inRecords += m.inputMetrics.recordsRead
        rec.outBytes += m.outputMetrics.bytesWritten
        rec.outRecords += m.outputMetrics.recordsWritten
        stages.get(e.stageId).foreach(_.taskRunMs += m.executorRunTime)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      rddBytes += size - rddBlocks.getOrElse(key, 0L)
      if (size == 0L) rddBlocks -= key else rddBlocks(key) = size
      if (on && rddBytes > peakRddBytes) peakRddBytes = rddBytes
    }
  }

  def reset(): Unit = synchronized {
    jobs.clear(); stages.clear(); stageJob.clear(); peakRddBytes = rddBytes
  }
}

/** Micro-batch progress of every streaming query, gathered while `on`. */
final class StreamListener extends StreamingQueryListener {
  @volatile var on = false
  val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      if (on) {
        val p = e.progress
        def dur(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
        val ops = p.stateOperators.toSeq
        progress += Map(
          "query" -> p.id.toString,
          "batch" -> p.batchId,
          "trigger_ms" -> dur("triggerExecution"),
          "add_batch_ms" -> dur("addBatch"),
          "wal_commit_ms" -> dur("walCommit"),
          "query_planning_ms" -> dur("queryPlanning"),
          "input_rows" -> p.numInputRows,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
      }
    }

  def reset(): Unit = synchronized { progress.clear() }
}
