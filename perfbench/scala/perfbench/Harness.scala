package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark: one session, one client, a closed loop.
  *
  * Usage: `perfbench.Harness --workload W --input DIR --run-dir DIR
  *   --seconds S --trace 0|1`
  *
  * Builds the session with `GraftSession.local`, runs one untimed
  * warm-up pass over the workload's jobs, then timed passes until
  * `seconds` have elapsed and the workload's minimum pass count is met
  * (a pass that has started always finishes).
  * Each job's wall runs from the start of its construction to the end of
  * its terminal write; between jobs the benchmark records what the job
  * left cached, then clears the cache and collects garbage, untimed.
  *
  * With `--trace 1`, timed passes alternate untraced and traced (at
  * least one of each): traced passes set job groups per span, feed the
  * listeners and pass the materializing seam probe to the curation
  * flagship. The difference between the two kinds is the tracing
  * overhead. Everything lands in `<run-dir>/result.json`; `run.py`
  * checks the outputs and derives the metrics. */
object Harness {

  private def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).fold(0L)(_.map(du).sum)

  private def dataFiles(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) {
      val n = f.getName
      if (n.startsWith(".") || n.startsWith("_")) 0L else 1L
    } else Option(f.listFiles()).fold(0L)(_.map(dataFiles).sum)

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  private def heapUsedPeak(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum

  private def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val dir = opts("input")
    val runDir = new File(opts("run-dir")).getAbsoluteFile
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val jobs = Jobs.forWorkload(workload)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus)
    val sessionBuildS = (System.nanoTime() - t0) / 1e9
    StageRedirect.install(spark)
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val exec = new ExecListener
    val streams = new StreamListener
    if (trace) {
      sc.addSparkListener(exec)
      spark.streams.addListener(streams)
    }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val errors = mutable.ArrayBuffer.empty[Map[String, Any]]

    def runPass(tag: String, traced: Boolean): Map[String, Any] = {
      tracer.on = traced
      exec.on = traced
      streams.on = traced
      if (traced) {
        exec.reset(); streams.reset(); resetHeapPeaks()
      }
      val gc0 = gcMillis()
      val outRoot = new File(runDir, s"out/$tag")
      val passSpan = tracer.open("pass", tag)
      val perJob = jobs.map { job =>
        val out = new File(outRoot, job.name).getPath
        val scratch = new File(runDir, s"scratch/${job.name}")
        val seams = mutable.ArrayBuffer.empty[Map[String, Any]]
        val jobSpan = tracer.open("job", job.name)
        val start = System.nanoTime()
        var planS = 0.0
        val err = try {
          val planSpan = tracer.open("plan", job.name)
          // seam windows: each probe call closes the window that opened
          // at the previous seam (or at plan start) under its stage name
          var window = tracer.open("seam", "")
          val probe: graft.text.Pipelines.StageProbe =
            if (!traced) graft.text.Pipelines.noProbe
            else (name, df) => {
              val p = graft.CacheScope.persist(df)
              val rows = p.count()
              window.name = name
              tracer.close(window)
              seams += Map("seam" -> name, "span" -> window.id, "rows" -> rows)
              window = tracer.open("seam", "")
              p
            }
          val df = job.plan(Ctx(spark, dir, scratch.getPath, probe))
          tracer.discard(window)
          tracer.close(planSpan)
          planS = (System.nanoTime() - start) / 1e9
          tracer.within("action", job.name) { df.write.mode("overwrite").parquet(out) }
          None
        } catch {
          case e: Throwable =>
            spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
            val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
              .take(300)
            System.err.println(s"[perfbench] $tag ${job.name} failed: $msg")
            errors += Map("pass" -> tag, "job" -> job.name, "error" -> msg)
            Some(msg)
        }
        val wall = (System.nanoTime() - start) / 1e9
        tracer.close(jobSpan)
        // untimed housekeeping: what the job left behind, then a clean
        // slate so no job's cache or garbage subsidizes the next one
        val persisted = sc.getPersistentRDDs.size
        // a streaming job checkpoints under its run-owned scratch dir or,
        // for a registry query, under its own stage dir
        val ckptBytes = du(new File(scratch, "ckpt")) + du(new File(StageRedirect.map(
          new File(graft.sources.Stage.work(job.name, dir))), "ckpt"))
        val files = dataFiles(new File(out))
        val outBytes = du(new File(out))
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        rmrf(scratch)
        System.gc()
        Map("job" -> job.name, "wall_s" -> wall, "plan_s" -> planS,
          "ok" -> err.isEmpty, "span" -> jobSpan.id,
          "persisted_after_job" -> persisted,
          "checkpoint_bytes" -> ckptBytes, "files_written" -> files,
          "out_bytes" -> outBytes, "seams" -> seams.toSeq)
      }
      tracer.close(passSpan)
      val base = Map[String, Any]("tag" -> tag, "traced" -> traced,
        "out" -> outRoot.getPath, "jobs" -> perJob,
        "gc_ms" -> (gcMillis() - gc0))
      val rec = if (!traced) base else {
        org.apache.spark.PerfbenchBus.drain(sc)
        val sparkJobs = exec.synchronized {
          exec.jobs.values.map { j =>
            Map("job_id" -> j.jobId, "group" -> j.group, "start" -> j.submit,
              "end" -> j.end, "succeeded" -> j.succeeded, "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
              "cpu_ns" -> j.cpuNs, "run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
              "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite,
              "spill" -> j.spill, "in_bytes" -> j.inBytes,
              "in_records" -> j.inRecords, "out_bytes" -> j.outBytes,
              "out_records" -> j.outRecords)
          }.toSeq
        }
        val sparkStages = exec.synchronized {
          exec.stages.values.map { s =>
            Map("stage_id" -> s.stageId, "job_id" -> s.jobId,
              "start" -> s.submit, "end" -> s.end,
              "task_run_ms" -> s.taskRunMs.toSeq)
          }.toSeq
        }
        val spans = tracer.spans.map { s =>
          Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
            "name" -> s.name, "start" -> s.start, "end" -> s.end)
        }.toSeq
        tracer.spans.clear()
        base ++ Map("spark_jobs" -> sparkJobs, "stages" -> sparkStages,
          "spans" -> spans, "progress" -> streams.synchronized(streams.progress.toSeq),
          "cache_peak_bytes" -> exec.peakRddBytes,
          "heap_peak_bytes" -> heapUsedPeak())
      }
      tracer.on = false; exec.on = false; streams.on = false
      rec
    }

    val w0 = System.nanoTime()
    runPass("warmup", traced = false)
    val warmupS = (System.nanoTime() - w0) / 1e9
    rmrf(new File(runDir, "out/warmup"))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val timedStart = System.nanoTime()
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    var n = 0
    def haveBoth = passes.exists(_("traced") == true) && passes.exists(_("traced") == false)
    val minPasses = Jobs.minPasses(workload)
    while (n < minPasses || elapsed < seconds || (trace && !haveBoth)) {
      n += 1
      val traced = trace && n % 2 == 0
      val rec = runPass(s"p$n", traced)
      // keep only the newest pass's outputs: the output check reads those
      passes.lastOption.foreach(p => rmrf(new File(p("out").toString)))
      passes += rec
    }
    val vmHwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

    val result = Map(
      "setup_s" -> setupS, "session_build_s" -> sessionBuildS,
      "warmup_s" -> warmupS, "passes" -> passes.toSeq,
      "errors" -> errors.toSeq, "vm_hwm_kb" -> vmHwmKb)
    spark.stop()
    Files.write(Paths.get(runDir.getPath, "result.json"),
      Json.write(result).getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
