package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** (n_events, max_ts_us) per user — running state.
  *
  * Top-level (NOT nested in the object): Janino's generated code calls
  * the accessors via the companion-qualified name, and a nested/private
  * case class makes every such call fail to compile, silently dropping
  * the whole stateful pipeline to interpreter-mode projections. Keeping
  * these at package level keeps the hot path inside whole-stage codegen.
  */
case class TwsAgg(n: Long, maxTs: Long)

/** Emitted on every update; the oracle keeps each user's final row. */
case class TwsUserAgg(user_id: Long, n_events: Long, last_ts_us: Long)

/** Arbitrary stateful processing on the Spark 4 `transformWithState`
  * API — the successor to mapGroupsWithState: typed per-key state
  * handles (value/list/map), timers, TTL, and the RocksDB state store
  * underneath (changelog-checkpointable, state larger than heap).
  *
  * Demonstrated as a running per-user event aggregate maintained across
  * real micro-batches: count + max event time held in a ValueState,
  * updated per batch, emitted on every update. The converged answer
  * (last emission per user) must equal the batch groupBy exactly —
  * both accumulators are order-independent, so batch boundaries and
  * within-batch iterator order can't perturb it.
  */
object TransformWithState {

  /** Derived ONCE per JVM (object init), not in `CountProcessor.init`:
    * `init` runs on EVERY task of EVERY micro-batch, and
    * `Encoders.product` is full Scala runtime-reflection encoder
    * derivation — 32 concurrent tasks serialized on the global
    * reflection lock (r19 jstack witness: ScalaReflection.encoderFor
    * under TransformWithStateExec.processData was a top sampled frame
    * of the stateful stages). The derived ExpressionEncoder is
    * deterministic, so hoisting it cannot change results. */
  private val twsAggEncoder = Encoders.product[TwsAgg]

  private class CountProcessor
      extends StatefulProcessor[Long, (Long, Long), TwsUserAgg] {
    @transient private var state: ValueState[TwsAgg] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TwsAgg]("agg",
        TransformWithState.twsAggEncoder, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[TwsUserAgg] = {
      val prev = Option(state.get()).getOrElse(TwsAgg(0L, Long.MinValue))
      var n = prev.n
      var mx = prev.maxTs
      rows.foreach { case (_, ts) => n += 1; if (ts > mx) mx = ts }
      state.update(TwsAgg(n, mx))
      Iterator.single(TwsUserAgg(key, n, mx))
    }
  }

  /** Run the stateful counter over [[CatchUp.chunked]]'s multi-batch
    * staging of `events` on the RocksDB provider, through [[CatchUp]] in
    * `workPath` (`q_stream_state_reader` reads the run's checkpoint
    * back), then reduce the update stream to each user's final row. The
    * provider is set for this run only and the session's own restored
    * after it. */
  def runningUserAggregates(spark: SparkSession, dir: String,
      workPath: String): DataFrame = {
    val name = "tws_out"
    val staged = graft.sources.Tables.load(spark, dir, "events")
      .select(col("event_id"),
        graft.functions.Scalars.epochMicros(col("ts")).as("ts_us"),
        col("user_id"))
    val srcPath = s"${CatchUp.fresh(spark, workPath)}/src"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sq = spark
      import sq.implicits._
      val updates = CatchUp.chunked(staged, srcPath)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .transformWithState(new CountProcessor,
          TimeMode.None(), OutputMode.Update(), Encoders.product[TwsUserAgg])
      // final row per user = the max running count (monotone per key)
      CatchUp.toMemory(updates.toDF(), name, "update", workPath)
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max(col("last_ts_us")).as("last_ts_us"))
    } finally prevProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }
}
