package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Sessionization over the events stream: a session ends after a 30-min
  * inactivity gap.
  *
  * Batch form: lag + running-sum-of-new-session-flags window — one
  * shuffle on user_id, SQL-oracle-checkable.
  *
  * Streaming form: `flatMapGroupsWithState` holding one open session per
  * user — the custom-state operator pattern for unbounded streams where
  * the window trick is impossible (state is bounded by active users, not
  * history).
  */
object Sessionize {

  val GapSeconds = 1800L

  /** Batch sessionization: (user_id, session_id, n_events, session_start,
    * session_end). Deterministic: events are totally ordered per user by
    * (ts, event_id). */
  def batch(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // integer micros via the shared helper — no double round-trip
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          graft.functions.Scalars.epochMicros(col("ts")) -
            graft.functions.Scalars.epochMicros(col("prev_ts")) >
            GapSeconds * 1000000L,
          1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
  }

  final case class Event(user_id: Long, ts: Timestamp)
  /** State times are epoch MICROSECONDS — `Timestamp.getTime` is
    * millis, and the fixtures carry sub-millisecond event times, so a
    * millis-truncating gap comparison could disagree with the batch
    * form's micros arithmetic on a gap within 1 ms of the boundary. */
  final case class SessionState(start: Long, end: Long, n: Long)
  final case class Session(user_id: Long, n_events: Long,
      session_start: Timestamp, session_end: Timestamp)

  // floorDiv, not /: getTime truncates toward zero while getNanos is
  // always positive, so a pre-1970 timestamp like -0.5 s would come out
  // +500000 µs under truncating division (mirrors fromMicros below)
  private[graft] def micros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
  private[graft] def fromMicros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming sessionization: buffers one open session per user in
    * state; emits a session when a later event arrives past the gap (or
    * on state timeout in a continuous deployment). */
  def sessionizeStream(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => micros(e.ts))
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            val t = micros(e.ts)
            cur match {
              case Some(s) if t - s.end > GapSeconds * 1000000L =>
                closed += Session(user, s.n, fromMicros(s.start), fromMicros(s.end))
                cur = Some(SessionState(t, t, 1))
              case Some(s) =>
                cur = Some(SessionState(s.start, math.max(s.end, t), s.n + 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  /** Streaming sessionization END-TO-END, converging to exactly the
    * batch result. Sessionization is order-sensitive ACROSS
    * micro-batches (an open session in state assumes no earlier event
    * can still arrive), so the staged replay is TIME-PARTITIONED: the
    * event set is cut into consecutive time ranges, one file per
    * range, with strictly increasing modification times —
    * FileStreamSource replays unread files oldest-mtime-first, which
    * is the event-time-ordered replay a partitioned log bus provides
    * at 100 TB. The final batch appends one far-future sentinel event
    * per user (end-of-stream punctuation): it closes each user's last
    * open session; the sentinel's own one-event session stays in
    * state and is never emitted. The emitted set therefore equals
    * batch sessionization exactly — same oracle, minus the batch
    * form's surrogate session ordinal. */
  def sessionizeQuery(spark: SparkSession, dir: String,
      workPath: String): DataFrame = {
    import spark.implicits._
    val name = "stream_sessionize_out"
    val srcDir = new java.io.File(s"${CatchUp.fresh(spark, workPath)}/src")
    srcDir.mkdirs()
    val ev = graft.sources.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"))
    // fenced scalar bounds (A5 pattern): chunk cuts + sentinel time
    val b = ev.agg(min(col("ts")), max(col("ts"))).head()
    val (lo, hi) = (b.getTimestamp(0).getTime, b.getTimestamp(1).getTime)
    val sentinels = ev.select(col("user_id")).distinct()
      .withColumn("ts", lit(new Timestamp(hi + 2 * GapSeconds * 1000)))
    val span = math.max(hi - lo, 1L)
    val chunks: Seq[DataFrame] = (0 until 3).map { k =>
      val clo = new Timestamp(lo + span * k / 3)
      val chi = new Timestamp(lo + span * (k + 1) / 3)
      ev.where(col("ts") >= lit(clo) &&
        (if (k == 2) lit(true) else col("ts") < lit(chi)))
    } :+ sentinels
    chunks.zipWithIndex.foreach { case (df, k) =>
      val tmp = s"$workPath/tmp$k"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"chunk_$k%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // pin replay order: distinct mtimes, one minute apart. The replay
      // ORDER is correctness-load-bearing (an open session in state
      // assumes no earlier event can still arrive), so a filesystem
      // that refuses the mtime rewrite must fail loudly here rather
      // than let FileStreamSource replay chunks out of order and
      // silently diverge from the batch oracle.
      val mtime = 1000000000000L + k * 60000L
      require(dst.setLastModified(mtime) && dst.lastModified() == mtime,
        s"cannot pin mtime of ${dst.getName} — ordered replay not guaranteed")
    }
    val stream = CatchUp.replay(ev, srcDir.getAbsolutePath,
      oneFilePerBatch = true).as[Event]
    CatchUp.toMemory(sessionizeStream(stream).toDF(), name, "append", workPath)
  }
}
