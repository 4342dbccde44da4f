package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: one place that knows the session configuration
  * the engine requires, so host apps (and the four driver mains) can't
  * drift apart on it.
  *
  * The non-negotiable configs and why:
  *  - `spark.sql.legacy.parquet.nanosAsLong` — upstream files may carry
  *    parquet TIMESTAMP(NANOS), which Spark only reads as raw longs;
  *    without the flag such a scan dies with PARQUET_TYPE_ILLEGAL.
  *    `Tables.normalizeTs` then folds whatever LOGICAL type the reader
  *    produced (nanos-long, TIMESTAMP_NTZ micros, TIMESTAMP) to
  *    session-zone TimestampType — the engine never assumes one
  *    physical encoding (the round-8 fixture churn lesson).
  *  - `spark.sql.session.timeZone=UTC` — every timestamp function in the
  *    engine (and every oracle) assumes UTC; a host-local zone would
  *    silently shift date_format/window boundaries.
  *  - AQE on — the skew-join and auto-broadcast behavior the operators
  *    document (and PlanSpec asserts) assume runtime re-planning.
  *  - `spark.sql.extensions=graft.GraftExtensions` — registers the
  *    codegen-native functions (`dot_f64`) without host code changes.
  *
  * Shuffle partitions default to the core count: on a laptop-sized
  * `local[n]` the 200-partition default just multiplies task overhead;
  * a real cluster deployment overrides this to ~2-3× its executor-core
  * total.
  *
  * Tests build their session from [[builder]] too, so they run under
  * exactly these keys. [[local]] and [[envCpus]] read the only four env
  * knobs: `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_SHUFFLE_PARTITIONS`,
  * `SPARK_GRAFT_EVENTLOG_DIR` (deployment and measurement settings) and
  * `SPARK_GRAFT_VERIFY_BROADCAST_BYTES` (the verify-dispatch A/B fence).
  * Any other setting a host needs goes on the session as Spark's own
  * key, for example `spark.sql.streaming.stateStore.providerClass`
  * (RocksDB state for every stateful query),
  * `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled`
  * or `spark.sql.streaming.checkpoint.fileChecksum.enabled` (durable
  * checkpoints).
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Shuffle-file deletion rides the driver's ContextCleaner, which
      // only fires when driver GC collects the shuffle handles — on a
      // large heap that can exceed Spark's 30min default periodic-GC
      // interval, during which a many-query run accumulates tens of GB
      // of dead shuffle files (a measured 74 GB across one bench rep at
      // 500k docs). 3min bounds that backlog; the forced GC itself is a
      // few ms on an idle-tenured heap.
      .config("spark.cleaner.periodicGC.interval", "3min")
      // The adaptive broadcast dispatches (Dedup.verifiedCommon's 1.5 GB
      // budget, the salted-join builds) estimate build sizes up to
      // 1.5 GB; Spark's default driver.maxResultSize (1 GiB) sits BELOW
      // that, so an explicit broadcast hint whose collect lands in the
      // 1.07–1.5 GB band would kill the whole job instead of running
      // the plan the dispatch chose. 4g keeps every fenced estimate
      // under the collect ceiling with margin.
      .config("spark.driver.maxResultSize", "4g")
      // Bucketed+sorted stages written through Bucketing.stageBucketed
      // hold exactly ONE file per bucket (repartition-before-write on
      // the bucket hash), so exposing the per-bucket sort order is
      // sound — it removes the per-join SortExec over the staged side
      // (the verify hash-set frame, the stored band index). Spark 3+
      // hides the order by default because multi-file buckets would
      // need a merge-read; the legacy rule still checks
      // one-file-per-bucket before claiming order, so multi-file
      // bucketed tables (e.g. coLocatedOrderJoin's) keep their sorts.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // r18: without the Hadoop native lib, the stock local FS FORKS a
      // process per permissioned create (`chmod`) and per FileContext
      // rename probe (`readlink`) — 24k forks in a three-query bench
      // subset; streaming micro-batch tasks parked in
      // ProcessImpl.forkAndExec at ~100 ms CPU per ~2 s wall (jstack
      // witness, r18 plans/). The fork-free adapters do the identical
      // chmod/link-status work in-JVM via NIO; HDFS/S3 deployments
      // never route through the "file" scheme, so this is local-adapter
      // plumbing, not a tuning knob. See graft.sources.FastLocalFs.
      .config("spark.hadoop.fs.file.impl",
        "graft.sources.FastLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        "graft.sources.FastLocalFs")
      // r18: Spark 4.1 turned on checksum sidecar files for streaming
      // checkpoints (corruption detection on long-lived state). Every
      // state-store delta close then AWAITS a checksum-file future; with
      // one state store per shuffle partition × 4 stores per
      // stream-stream join, the micro-batch's tasks sat blocked ~5.5 s
      // wall at ~50 ms CPU in ChecksumCancellableFSDataOutputStream
      // .close (thread-dump witness, r18 plans/). The engine's
      // checkpoints are per-invocation scratch (fresh dir every run), so
      // integrity re-verification buys nothing here; a host with durable
      // checkpoints sets this key back to true on its session.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // RocksDB changelog checkpointing is left at Spark's default (off):
      // a same-boot A/B (r19) measured it ~5% slower at this engine's
      // near-empty stores. Large-state hosts set
      // spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing
      // .enabled=true; results are identical either way.
      .config("spark.sql.extensions", "graft.GraftExtensions")

  /** Local session sized to `cpus` threads — the mains' form.
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` decouples the partition count
    * from the thread count (the default ties them): shuffle-heavy legs
    * whose per-partition sort exceeds per-task execution memory need
    * MORE partitions than cores, exactly like a cluster deployment —
    * see the spill-aware sizing note in the builder scaladoc. */
  def local(cpus: Int): SparkSession = {
    val parts = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map { v =>
        val n = try v.trim.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"SPARK_GRAFT_SHUFFLE_PARTITIONS must be a positive int, got '$v'")
        }
        require(n > 0,
          s"SPARK_GRAFT_SHUFFLE_PARTITIONS must be > 0, got $n")
        n
      }.getOrElse(cpus)
    // Event-log knob (measurement harness): per-stage wall/shuffle/spill
    // attribution — tools/eventlog_stages.py reads the log back. Only
    // effective when THIS call creates the session (builder-time conf);
    // cwd-relative so cloned camps keep their logs inside themselves.
    val b0 = builder(s"local[$cpus]", parts)
    val b = sys.env.get("SPARK_GRAFT_EVENTLOG_DIR").map(_.trim)
      .filter(_.nonEmpty).fold(b0) { d =>
        val abs = new java.io.File(d).getAbsoluteFile
        abs.mkdirs()
        b0.config("spark.eventLog.enabled", "true")
          .config("spark.eventLog.dir", abs.getPath)
      }
    val s = b.getOrCreate()
    // Verify-side dispatch knob (A/B harness): the byte budget under
    // which Dedup.verifiedCommon broadcasts; 0 forces the bucketed
    // path. Unset/empty/'none'/'off' keep the library default
    // (Dedup.DefaultVerifyBroadcastBytes).
    sys.env.get("SPARK_GRAFT_VERIFY_BROADCAST_BYTES")
      .map(_.trim.toLowerCase).filter(v => v.nonEmpty && v != "none" && v != "off")
      .foreach { v =>
        val b = try v.toDouble catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"SPARK_GRAFT_VERIFY_BROADCAST_BYTES must be a number, got '$v'")
        }
        require(b >= 0, s"SPARK_GRAFT_VERIFY_BROADCAST_BYTES must be >= 0, got $b")
        s.conf.set(text.Dedup.VerifyBroadcastBytesKey, b.toString)
      }
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Core-count from the driver contract env, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}
