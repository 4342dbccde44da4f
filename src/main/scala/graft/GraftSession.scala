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
  *  - `spark.sql.codegen.cache.maxEntries=4096` — Spark keeps compiled
  *    generated classes in one JVM-wide cache of 100 entries by
  *    default, fewer than one pass of the engine's plans uses, so every
  *    repeated pass compiled its plans again. Measured with an unbounded
  *    cache: one `q_flagship_curation` run at sf0.001 compiles 272
  *    distinct classes, one pass over all 204 registered queries at
  *    sf0.01 (`graft.Verify`) 2,184. 4096 holds the whole surface with
  *    ~1.9× headroom. It is a STATIC conf: `CodeGenerator` reads it once
  *    per JVM, when it is first used, from the session active then — a
  *    host that built its session some other way keeps Spark's 100.
  *    `spark.sql.codegen.useIdInClassName=false` goes with it (see the
  *    builder): stage-numbered class names made the same plan miss the
  *    cache when AQE numbered its stages differently.
  *  - `spark.sql.artifact.isolation.enabled=false` — Spark 4.1 runs every
  *    SQL task of a session under that session's own executor class
  *    loader. Janino's class-name probes while a task compiles a
  *    generated class miss in that loader, and each miss is fetched from
  *    the driver over RPC; the generated-class cache also keys on the
  *    loader, so every cloned session (each stream run) compiled its
  *    classes again. With the key off, tasks load through the
  *    application's loader: two `q_stream_transform_state` runs in one
  *    JVM compiled 43 then 19 classes, now 42 then 0 (sf0.001,
  *    `CodegenCacheSpec`). The engine adds no session artifacts (jars,
  *    files); a host that adds them per session sets the key back to
  *    true when it builds its session (Spark reads it at session
  *    creation only).
  *  - `spark.sql.parquet.compression.codec=zstd` — every parquet the
  *    engine writes (`Sinks`, the `Bucketing` stages, the stream sinks,
  *    a host's terminal write on this session) is zstd at its default
  *    level instead of Spark's snappy: the sink bytes are what a
  *    deployment stores, ships and later scans. Each etl job of the
  *    benchmark (perfbench seed 7101, one pass), output bytes snappy →
  *    zstd:
  *    {{{
  *    outbound_push             497,588 → 356,742  −28.3%
  *    q_j1_star_decode          204,037 → 144,575  −29.1%
  *    q_repair_ladder           123,240 →  88,937  −27.8%
  *    q_s2_partitioned_sink     192,412 → 128,444  −33.2%
  *    q_skip_pruned_scan         89,541 →  66,579  −25.6%
  *    q_f5_case_ladder           69,574 →  37,019  −46.8%
  *    q_stream_transform_state    3,083 →   2,499  −18.9%
  *    total                   1,179,475 → 824,795  −30.1%
  *    q_flagship_curation         8,237 →   5,218  −36.7%
  *    }}}
  *    Stages the engine writes shrink by about the same share, and with
  *    them Spark's size estimates for their read-backs; no join strategy
  *    of the 204 registered queries moved at sf0.01 or sf0.1
  *    (`plans/zstd_sinks`). A host that
  *    needs another codec sets the key on its session, or the
  *    `compression` option on one write; both win (`SinkCodecSpec`).
  *  - `spark.buffer.pageSize` and `spark.broadcast.blockSize`, sized by
  *    [[bufferSizes]] from the heap and the G1 region size of the JVM
  *    the builder runs in (a `local[n]` master only: there the driver
  *    JVM runs the tasks). Spark's defaults are tuned for large cluster
  *    heaps: a 4 MB broadcast chunk, and a page of
  *    `nextPow2(execution pool / cores / 16)` clamped to [1 MB, 64 MB],
  *    32 MB on a 4 GB heap with 4 cores. G1 allocates any object of half
  *    a region or more (2 MB regions on a 4 GB heap) as a humongous
  *    object in regions of its own, which only a collection frees. A
  *    JFR recording of one curation benchmark run (4 GB heap, warm-up
  *    plus two passes) found 4,122 MB of allocations of 1 MB or more:
  *    every stage broadcasts its task binary, and each broadcast
  *    allocated one whole 4 MB chunk (`TorrentBroadcast.blockifyObject`,
  *    381 × 4 MB); every hash aggregate's fast map took a whole page
  *    even for ten rows (`RowBasedKeyValueBatch`, 28 × 32 MB), and so
  *    did each hash map (`BytesToBytesMap.acquireNewPage`, 26 × 32 MB).
  *    Before each young GC 1.0–1.2 GB of the heap was humongous regions.
  *    With both keys at 512 KB the run's peak resident set fell from
  *    2,786 MB to 1,779 MB (medians of 10 runs). The rule: (a) 8192
  *    pages (the `TaskMemoryManager` page table; one more throws "Have
  *    already allocated a maximum of 8192 pages") must cover the heap,
  *    since a lone task may take the whole unified memory region; (b)
  *    where (a) allows it, each buffer plus its 16-byte array header
  *    stays under half a region. On a non-local master, or off G1, the
  *    executors' heaps are unknown here and neither key is set: size
  *    `spark.buffer.pageSize` (heap / 8192, rounded up) or
  *    `-XX:G1HeapRegionSize` (at least 4 × the page) on the executors.
  *    `HumongousSpec` holds the rule on a flagship run.
  *
  * Shuffle partitions default to the core count: on a laptop-sized
  * `local[n]` the 200-partition default just multiplies task overhead;
  * a real cluster deployment overrides this to ~2-3× its executor-core
  * total.
  *
  * Tests build their session from [[builder]] too, so they run under
  * exactly these keys. [[local]] and [[envCpus]] read the only three env
  * knobs, all deployment and measurement settings: `SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_SHUFFLE_PARTITIONS` and `SPARK_GRAFT_EVENTLOG_DIR`.
  * Any other setting a host needs goes on the session as a key, for
  * example `spark.graft.verifyBroadcastBytes` (the byte budget under
  * which `Dedup`'s verify stage broadcasts) or Spark's own
  * `spark.sql.streaming.stateStore.providerClass` (RocksDB state for
  * every stateful query),
  * `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled`
  * or `spark.sql.streaming.checkpoint.fileChecksum.enabled` (durable
  * checkpoints), `spark.sql.artifact.isolation.enabled` (per-session
  * jars) or `spark.sql.parquet.compression.codec` (another codec).
  */
object GraftSession {

  /** Spark's page (`spark.buffer.pageSize`) and broadcast chunk
    * (`spark.broadcast.blockSize`) for a JVM with `heapBytes` of heap in
    * G1 regions of `regionBytes`.
    *
    * Each buffer is a `byte[]`, and a `byte[]` whose size plus its
    * 16-byte header reaches half a region is humongous. The broadcast
    * chunk is the largest power of two under that threshold, and never
    * above Spark's 4 MB default. The page is the same power of two
    * unless 8192 of them (the page table's size) would not cover the
    * heap; then it is the smallest 8-byte multiple that does, humongous
    * or not, because a task that runs out of page table fails. */
  def bufferSizes(heapBytes: Long, regionBytes: Long): BufferSizes = {
    require(heapBytes > 0 && regionBytes > 0,
      s"heap $heapBytes and region $regionBytes must be positive")
    val underHumongous =
      java.lang.Long.highestOneBit(regionBytes / 2 - ArrayHeaderBytes - 1)
    val pageFloor = ((heapBytes + PageTableSize - 1) / PageTableSize + 7) / 8 * 8
    BufferSizes(math.max(underHumongous, pageFloor),
      math.min(underHumongous, SparkBroadcastBlockBytes))
  }

  final case class BufferSizes(pageBytes: Long, blockBytes: Long)

  /** `TaskMemoryManager`'s page table: a task holds at most this many pages. */
  private[graft] val PageTableSize = 8192L
  /** Bytes a `byte[]` takes beyond its elements on a 64-bit HotSpot JVM. */
  private[graft] val ArrayHeaderBytes = 16L
  private val SparkBroadcastBlockBytes = 4L << 20

  /** The buffer sizes for a session whose tasks run in this JVM: its max
    * heap and its G1 region size. None off G1, or where HotSpot's
    * diagnostic bean is missing. */
  private def thisJvmBufferSizes: Option[BufferSizes] = scala.util.Try {
    val hs = java.lang.management.ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
    if (hs.getVMOption("UseG1GC").getValue != "true") None
    else Some(bufferSizes(Runtime.getRuntime.maxMemory,
      hs.getVMOption("G1HeapRegionSize").getValue.toLong))
  }.toOption.flatten

  private val LocalMaster = """local(\[[^\]]*\])?""".r

  /** The two buffer keys the builder sets for `master`: both for a
    * `local[n]` master on a G1 JVM, none otherwise. */
  private[graft] def bufferConf(master: String): Map[String, String] =
    (if (LocalMaster.matches(master)) thisJvmBufferSizes else None)
      .fold(Map.empty[String, String])(s => Map(
        "spark.buffer.pageSize" -> s"${s.pageBytes}b",
        "spark.broadcast.blockSize" -> s"${s.blockBytes}b"))

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
      // generated-class cache sized to the registered surface's measured
      // 2,184 classes (scaladoc above; static, read once per JVM)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // The cache keys on the class source, and a whole-stage class is
      // named after its codegen stage id, which AQE hands out in the
      // order stages get planned: the same plan can number its stages
      // differently from run to run, and each renumbered stage compiles
      // again (16 of a flagship run's 292 classes at sf0.001, measured).
      // Unnumbered names make identical code one class; the id stays in
      // the plan (`*(n)`) and in the generated source's comment.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // task-side compiles load through the app class loader, and every
      // session, stream clones included, shares one generated-class
      // cache entry per class (scaladoc above); a host that adds
      // per-session jars sets it back to true when it builds its session
      .config("spark.sql.artifact.isolation.enabled", "false")
      // every parquet the engine writes is zstd at its default level,
      // about a third fewer bytes than snappy (scaladoc above); a
      // session key or a write's `compression` option still wins
      .config("spark.sql.parquet.compression.codec", "zstd")
      // pages and broadcast chunks below G1's humongous threshold
      // (scaladoc above), where this JVM runs the tasks
      .config(bufferConf(master))

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
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Core-count from the driver contract env, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}
