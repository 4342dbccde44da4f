package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.{Stage, Tables}

/** Structured Streaming over the events table.
  *
  * The reference is batch-only (SURVEY.md §2i): its incremental semantics
  * are snapshot predicates + anti-join deltas + idempotent partition
  * overwrite. This module supplies the streaming-native equivalents a
  * large-scale pipeline needs: file-source → watermark → windowed
  * aggregation → sink. Each run goes through [[CatchUp]], which owns
  * how it starts, where it checkpoints and how it stops; a run without
  * a work dir argument checkpoints in its query's `Stage.work` dir.
  */
object EventsStream {

  /** Streaming source over `<dir>/events.parquet`.
    *
    * Schema: FileStreamSource needs one up front, and hardcoding a
    * physical layout is exactly the brittleness that broke round 8 (the
    * fixtures flipped from TIMESTAMP(NANOS)-as-long to micros-NTZ and a
    * pinned `ts: LongType` schema plus an unconditional `DIV 1000` shrank
    * every event time 1000×). So the schema is read from the batch
    * footer of the same files — one driver-side metadata read — and
    * `Tables.normalizeTs` folds whatever logical type that yields to
    * session-zone TimestampType, same as the batch path.
    *
    * Layout: the driver fixtures stage events.parquet as a single FILE
    * while GenScale's synthetic decades write a parquet DIRECTORY of
    * part files; neither layout reads the other's way —
    * FileStreamSource requires its basePath to be a directory (so the
    * file layout must go through a dir-level glob), and a dir-level
    * pathGlobFilter on the file NAME matches nothing one level down in
    * the directory layout (the r8 sf1x run silently streamed zero
    * files). Branch on the on-disk layout. */
  private def eventsSource(spark: SparkSession, dir: String): DataFrame = {
    val path = Tables.path(dir, "events")
    val physicalSchema = Tables.read(spark, path).schema
    val reader = spark.readStream.schema(physicalSchema).format("parquet")
    val raw =
      if (new java.io.File(path).isDirectory) reader.load(path)
      else reader.option("pathGlobFilter", "events.parquet").load(dir)
    Tables.normalizeTs(raw)
  }

  /** Hourly per-type counts/sums as a streaming query, run to completion
    * on the available data and returned as a DataFrame. Semantically
    * identical to the batch `q_events_hourly` — same oracle. */
  def hourlyAggregates(spark: SparkSession, dir: String): DataFrame = {
    val name = "stream_hourly_out"
    val stream = eventsSource(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))
    CatchUp.toMemory(stream, name, "complete",
      CatchUp.fresh(spark, Stage.work("q_stream_events_hourly", dir)))
  }

  /** Streaming deduplication: dropDuplicates on the event key inside the
    * watermark horizon — the streaming form of exact dedup (state holds
    * one key per event inside the watermark; late duplicates beyond it
    * age out). Aggregated per type so the batch oracle can hash-match. */
  def dedupedCounts(spark: SparkSession, dir: String): DataFrame = {
    val name = "stream_dedup_out"
    val stream = eventsSource(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
    CatchUp.toMemory(stream, name, "complete",
      CatchUp.fresh(spark, Stage.work("q_stream_dedup", dir)))
  }

  /** Stream-stream join: clicks joined to the same user's signups within
    * one hour after the signup — both sides are streams with watermarks,
    * and the time-range condition bounds the join state Spark must hold
    * (without it, stream-stream state grows forever). Semantically equal
    * to the batch join with the same predicate — the oracle. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val name = "stream_stream_out"
    def side(eventType: String, idAs: String, tsAs: String) =
      eventsSource(spark, dir)
        .filter(col("event_type") === eventType)
        .select(col("event_id").as(idAs), col("user_id"), col("ts").as(tsAs))
        .withWatermark(tsAs, "2 hours")
    val clicks = side("click", "click_id", "click_ts")
    val signups = side("signup", "signup_id", "signup_ts")
      .withColumnRenamed("user_id", "s_user_id")
    val joined = clicks.join(signups,
      col("user_id") === col("s_user_id") &&
        col("click_ts") >= col("signup_ts") &&
        col("click_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"),
      "inner")
      .select(col("click_id"), col("user_id"), col("signup_id"))
    CatchUp.toMemory(joined, name, "append",
      CatchUp.fresh(spark, Stage.work("q_stream_stream_join", dir)))
  }

  /** Stream-stream LEFT OUTER join: every click, matched to a same-user
    * signup within the hour before it — or null-padded once the
    * watermark proves no matching signup can still arrive. The outer
    * side is the part the inner join can't express: unmatched rows sit
    * in state until the watermark passes their eligibility window, then
    * emit exactly once.
    *
    * Convergence: outer results only flush when the watermark moves past
    * them, and the watermark only moves with new data — so the staged
    * source appends a far-future flush sentinel per side (user_id = -1,
    * filtered back out of the result). That is the streaming form of a
    * source heartbeat/punctuation: at 100 TB the upstream bus provides
    * it; here the stage writes it, which makes the streaming result
    * EXACTLY the batch left join — and hash-checkable.
    */
  def leftOuterJoin(spark: SparkSession, dir: String,
      workPath: String): DataFrame = {
    val name = "stream_outer_out"
    val srcPath = s"${CatchUp.fresh(spark, workPath)}/src"
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    // scalar bound fetch (fenced, A5 pattern): the sentinel must outrun
    // every real event time for the final watermark to flush all state
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val flushTs = new java.sql.Timestamp(
      maxTs.getTime + 30L * 24 * 3600 * 1000)
    val sentinels = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(-1L, flushTs, -1L, "click"),
        org.apache.spark.sql.Row(-2L, flushTs, -1L, "signup")),
      ev.schema)
    val staged = ev.unionByName(sentinels)
    staged.write.parquet(srcPath)
    def side(eventType: String, idAs: String, tsAs: String) =
      CatchUp.replay(staged, srcPath)
        .filter(col("event_type") === eventType)
        .select(col("event_id").as(idAs), col("user_id"), col("ts").as(tsAs))
        .withWatermark(tsAs, "2 hours")
    val clicks = side("click", "click_id", "click_ts")
    val signups = side("signup", "signup_id", "signup_ts")
      .withColumnRenamed("user_id", "s_user_id")
    val joined = clicks.join(signups,
      col("user_id") === col("s_user_id") &&
        col("click_ts") >= col("signup_ts") &&
        col("click_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("click_id"), col("user_id"), col("signup_id"),
        col("signup_id").isNotNull.as("matched"))
    CatchUp.toMemory(joined, name, "append", workPath)
      .filter(col("user_id") >= 0)
  }

  /** foreachBatch sink: per-micro-batch idempotent parquet write — the
    * production pattern for sinks Structured Streaming doesn't speak
    * natively (JDBC, document stores): each batch is a normal DataFrame,
    * written with dynamic partition overwrite so replayed batches are
    * idempotent (`FULL:72`'s overwrite semantics, streaming edition).
    * The sink is `<workPath>/out`, cleared with the run's scratch:
    * partitions an earlier invocation wrote under different data (e.g.
    * the r8 encoding bug's 1970 dates) are not in the new batches'
    * partition set and would otherwise survive beside the fresh ones. */
  def sinkViaForeachBatch(spark: SparkSession, dir: String,
      workPath: String): DataFrame = {
    val outPath = s"${CatchUp.fresh(spark, workPath)}/out"
    CatchUp.eachBatch(eventsSource(spark, dir), workPath) { (batch, _) =>
      batch
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(outPath)
    }
    Tables.read(spark, outPath)
  }

  /** Streaming MERGE materialization: maintain a latest-state-per-user
    * table from the event stream by upserting every micro-batch — the
    * streaming materialized view a warehouse builds without a table
    * format's MERGE INTO.
    *
    * Mechanics: the source is staged by [[CatchUp.chunked]], so the run
    * is genuinely multi-batch; each micro-batch runs `Merge.latestBy`
    * (latest by EVENT time, so state converges to the same answer
    * whatever order batches replay in) against the previous state
    * version and writes an immutable new version directory — read-then-overwrite of live parquet is a
    * self-read race, versioned snapshots are the safe idempotent form
    * (and what table formats do underneath). State size is one row per
    * key; each batch's merge is one key shuffle.
    */
  def mergeSink(spark: SparkSession, dir: String, workPath: String): DataFrame = {
    import graft.operators.Merge
    val stream = CatchUp.chunked(
      Tables.load(spark, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value")),
      s"${CatchUp.fresh(spark, workPath)}/src")
    @volatile var latest: Option[String] = None
    CatchUp.eachBatch(stream, workPath) { (batch, batchId) =>
      val changes = batch.select(
        col("user_id"), col("ts").as("last_ts"),
        col("event_id").as("last_event_id"), col("value").as("last_value"))
      val target = latest match {
        case Some(p) => Tables.read(spark, p)
        case None => changes.limit(0)
      }
      val next = s"$workPath/state/v$batchId"
      Merge.latestBy(target, changes, Seq("user_id"),
          Seq(col("last_ts").desc, col("last_event_id").desc))
        .write.mode("overwrite").parquet(next)
      latest = Some(next)
    }
    Tables.read(spark, latest.getOrElse(
      sys.error("mergeSink: stream produced no batches")))
  }

  /** Stream-static join: the event stream enriched against a static
    * dimension (users → nation decode via customer) — the streaming
    * analogue of the decode star. The static side is re-read per
    * micro-batch by Spark, so dim updates are picked up without restart;
    * at scale the dim is broadcast into each batch. */
  def enrichedStream(spark: SparkSession, dir: String): DataFrame = {
    val name = "stream_enriched_out"
    val dim = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val stream = eventsSource(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
      .groupBy(col("event_type"),
        coalesce(col("c_mktsegment"), lit("NONE")).as("segment"))
      .agg(count(lit(1)).as("n"))
    CatchUp.toMemory(stream, name, "complete",
      CatchUp.fresh(spark, Stage.work("q_stream_static_join", dir)))
  }
}
