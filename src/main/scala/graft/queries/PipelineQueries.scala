package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{Sinks, Stage, Tables}
import graft.multimodal.Multimodal
import graft.streaming.EventsStream

/** Multimodal plumbing + streaming fixtures, and the flagship pipeline
  * exposed as a rows-checked query.
  */
object PipelineQueries {

  /** Binary-column plumbing, oracle-checkable part: payload byte length
    * and metadata struct fields (DuckDB mirrors via encode()). */
  private val mmPlumbing = Q("q_mm_binary_plumbing",
    (s, dir) => {
      val media = Multimodal.asMedia(Tables.load(s, dir, "documents"))
      media.select(
        col("media_id"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.origin").as("origin"),
        col("meta.format").as("format"))
    },
    """
      SELECT doc_id AS media_id,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        source AS origin,
        'fake/utf8' AS format
      FROM documents""")

  /** Partition-wise stub decode (mapPartitions over raw bytes). The mean
    * byte of ASCII text is still SQL-expressible, so even the stub's
    * output is oracle-checked: mean_byte = sum(codepoints)/len. */
  private val mmDecode = Q("q_mm_decode_features",
    (s, dir) => Multimodal.extractFeatures(
      Multimodal.asMedia(Tables.load(s, dir, "documents"))),
    """
      WITH b AS (SELECT doc_id AS media_id,
          CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          list_transform(string_split(text, ''), x -> ord(x)) AS cps
        FROM documents)
      SELECT media_id, n_bytes,
        CAST(n_bytes % 640 AS INTEGER) AS width,
        CAST((n_bytes * 7) % 480 AS INTEGER) AS height,
        CAST(list_sum(cps) AS DOUBLE) / n_bytes AS mean_byte
      FROM b""")

  /** Structured Streaming end-to-end (file source → watermark → windowed
    * agg → memory sink, run to completion by `CatchUp`) — same oracle as
    * the batch hourly query, proving stream/batch parity. */
  private val streamHourly = Q("q_stream_events_hourly",
    (s, dir) => EventsStream.hourlyAggregates(s, dir),
    """
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
        count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2""")

  /** foreachBatch streaming sink: stream → per-batch idempotent
    * partitioned parquet → read back; oracle checks the full event set
    * survived the trip (with the derived partition column). */
  private val streamSink = Q("q_stream_foreachbatch_sink",
    (s, dir) => graft.streaming.EventsStream.sinkViaForeachBatch(s, dir,
      Stage.work("q_stream_foreachbatch_sink", dir))
      .select(col("event_id"), col("event_type"), col("value"),
        // DATE dtypes diverge across engines in pandas; compare as string
        col("event_date").cast("string").as("event_date")),
    """
      SELECT event_id, event_type, value,
        strftime(ts, '%Y-%m-%d') AS event_date
      FROM events""")

  /** Stream-stream join (watermarked both sides, time-range-bounded
    * state) — oracle is the equivalent batch join. */
  private val streamStream = Q("q_stream_stream_join",
    (s, dir) => graft.streaming.EventsStream.streamStreamJoin(s, dir),
    """
      WITH clicks AS (SELECT event_id AS click_id, user_id, ts AS click_ts
                      FROM events WHERE event_type = 'click'),
           signups AS (SELECT event_id AS signup_id, user_id, ts AS signup_ts
                       FROM events WHERE event_type = 'signup')
      SELECT c.click_id, c.user_id, s.signup_id
      FROM clicks c JOIN signups s
        ON c.user_id = s.user_id
       AND c.click_ts >= s.signup_ts
       AND c.click_ts <= s.signup_ts + INTERVAL 1 HOUR""")

  /** Stream-stream LEFT OUTER join — unmatched clicks null-pad once the
    * watermark proves no signup can arrive; a staged flush sentinel
    * pushes the final watermark so the result converges to exactly the
    * batch left join (the oracle). */
  private val streamOuter = Q("q_stream_outer_join",
    (s, dir) => graft.streaming.EventsStream.leftOuterJoin(s, dir,
      Stage.work("q_stream_outer_join", dir)),
    """
      WITH clicks AS (SELECT event_id AS click_id, user_id, ts AS click_ts
                      FROM events WHERE event_type = 'click'),
           signups AS (SELECT event_id AS signup_id, user_id, ts AS signup_ts
                       FROM events WHERE event_type = 'signup')
      SELECT c.click_id, c.user_id, s.signup_id,
        s.signup_id IS NOT NULL AS matched
      FROM clicks c LEFT JOIN signups s
        ON c.user_id = s.user_id
       AND c.click_ts >= s.signup_ts
       AND c.click_ts <= s.signup_ts + INTERVAL 1 HOUR""")

  /** Spark 4 transformWithState (RocksDB provider): per-user running
    * aggregate across 4 real micro-batches; converged state must equal
    * the batch groupBy exactly. */
  private val streamTws = Q("q_stream_transform_state",
    (s, dir) => graft.streaming.TransformWithState.runningUserAggregates(
      s, dir, Stage.work("q_stream_transform_state", dir)),
    """
      SELECT user_id, count(*) AS n_events,
        max(epoch_us(ts)) AS last_ts_us
      FROM events GROUP BY user_id""")

  /** State-store reader: after the transformWithState run converges,
    * re-open its RocksDB checkpoint OFFLINE with the `statestore` batch
    * source and audit the typed state directly — the observability path
    * for debugging a 100 TB streaming job's state without touching the
    * running query. The audited state must equal the batch groupBy. */
  private val stateReader = Q("q_stream_state_reader",
    (s, dir) => {
      val work = Stage.work("q_stream_state_reader", dir)
      // run the stateful pipeline to produce a fresh checkpoint
      graft.streaming.TransformWithState.runningUserAggregates(s, dir, work)
        .count()
      s.read.format("statestore")
        .option("stateVarName", "agg")
        .load(s"$work/ckpt")
        .select(col("key.value").as("user_id"),
          col("value.n").as("n_events"),
          col("value.maxTs").as("last_ts_us"))
    },
    """
      SELECT user_id, count(*) AS n_events,
        max(epoch_us(ts)) AS last_ts_us
      FROM events GROUP BY user_id""")

  /** Streaming sessionization (flatMapGroupsWithState over a
    * time-partitioned multi-batch replay, sentinel punctuation closing
    * the final sessions) — must equal the batch sessionizer minus its
    * surrogate session ordinal. */
  private val streamSessionize = Q("q_stream_sessionize",
    (s, dir) => graft.streaming.Sessionize.sessionizeQuery(s, dir,
      Stage.work("q_stream_sessionize", dir)),
    """
      WITH l AS (
        SELECT user_id, ts, event_id,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events),
      f AS (
        SELECT user_id, ts,
          CASE WHEN prev_ts IS NULL
                 OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS ns,
          event_id
        FROM l),
      se AS (
        SELECT user_id, ts,
          CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        FROM f)
      SELECT user_id, count(*) AS n_events,
        min(ts) AS session_start, max(ts) AS session_end
      FROM se GROUP BY user_id, sid""")

  /** User-360 composition, hash-checked end-to-end: sessionization +
    * time-decay engagement + outlier counts joined into one per-user
    * materialization — the "user feature table" an events warehouse
    * serves. Every leg is an independently-oracled operator (the
    * sessionizer, the integer-exact decay score, the broadcast-stats
    * z-score); the composition check catches wiring bugs between them.
    * Shape: three user-keyed aggregates + two joins, all hashed on
    * user_id — one logical shuffle key end to end. */
  private val user360 = Q("q_user360_pipeline",
    (s, dir) => {
      val ev = graft.CacheScope.persist(Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")))
      val sessions = graft.streaming.Sessionize.batch(ev)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"))
      val maxE = ev.agg(
        max(graft.functions.Scalars.epochMicros(col("ts"))).as("max_us"))
      val decay = ev.crossJoin(broadcast(maxE))
        .withColumn("ts_us", graft.functions.Scalars.epochMicros(col("ts")))
        .withColumn("age_days", expr("(max_us - ts_us) DIV 86400000000"))
        // decimal(38,0) BEFORE the multiply: a LongType product wraps
        // silently in non-ANSI Spark once cents × 2^40 passes 2^63
        .withColumn("term", (round(col("value") * 100).cast("decimal(38,0)") *
          expr("shiftleft(1L, cast(40 - least(age_days, 40) as int))"))
          .cast("decimal(38,0)"))
        .groupBy(col("user_id"))
        .agg(round(sum(col("term")).cast("double") /
          (lit(100.0) * pow(lit(2.0), 40)), 6).as("decay_score"))
      val st = ev.groupBy(col("event_type")).agg(
        avg(col("value")).as("mu"), stddev_samp(col("value")).as("sigma"))
      // nullif-guarded σ: a constant-valued event_type divides by zero,
      // where Spark yields NULL but DuckDB yields ±inf — pin both to
      // NULL (anomaly score undefined when there is no spread)
      val anomalies = ev.join(broadcast(st), Seq("event_type"))
        .filter(abs((col("value") - col("mu")) /
          when(col("sigma") =!= 0, col("sigma"))) > 2.5)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_anomalies"))
      sessions.join(decay, Seq("user_id"))
        .join(anomalies, Seq("user_id"), "left")
        .select(col("user_id"), col("n_sessions"), col("n_events"),
          col("decay_score"),
          coalesce(col("n_anomalies"), lit(0L)).as("n_anomalies"))
    },
    """
      WITH l AS (
        SELECT user_id, ts, event_id,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS prev_ts
        FROM events),
      f AS (
        SELECT user_id, ts, event_id,
          CASE WHEN prev_ts IS NULL
                 OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END
            AS ns
        FROM l),
      se AS (
        SELECT user_id,
          CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_id
        FROM f),
      sess AS (
        SELECT user_id, count(DISTINCT session_id) AS n_sessions,
          count(*) AS n_events
        FROM se GROUP BY user_id),
      m AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
      dt AS (SELECT user_id,
          CAST(round(value * 100) AS HUGEINT) *
            CAST(CAST(1 AS BIGINT) << CAST(40 - least(
              (max_us - epoch_us(ts)) // 86400000000, 40) AS INT)
              AS HUGEINT) AS term
        FROM events, m),
      decay AS (
        SELECT user_id,
          round(CAST(sum(term) AS DOUBLE) / (100.0 * 1099511627776.0), 6)
            AS decay_score
        FROM dt GROUP BY user_id),
      st AS (SELECT event_type, avg(value) AS mu,
          stddev_samp(value) AS sigma
        FROM events GROUP BY event_type),
      an AS (
        SELECT user_id, count(*) AS n_anomalies
        FROM events e JOIN st USING (event_type)
        WHERE abs((value - mu) / nullif(sigma, 0)) > 2.5
        GROUP BY user_id)
      SELECT s.user_id, s.n_sessions, s.n_events, d.decay_score,
        coalesce(an.n_anomalies, 0) AS n_anomalies
      FROM sess s JOIN decay d ON s.user_id = d.user_id
      LEFT JOIN an ON s.user_id = an.user_id""")

  /** Flagship pipeline, MATERIALIZED and hash-checked: run EP1, WRITE
    * the nested document parquet, read it back, flatten the
    * round-tripped bytes. The write pins the nested representation (no
    * struct-build-then-extract collapse is possible across a parquet
    * stage), so this row now hashes the pipeline's actual output
    * instead of recording rows-only. */
  private val flagship = Q("q_flagship_pipeline",
    (s, dir) => {
      val work = Stage.work("q_flagship_pipeline", dir)
      flattenDoc(Sinks.stageOut(s, graft.Flagship.prospectPipeline(s, dir), work))
    },
    flagshipFlatSql(""))

  /** Flatten the flagship document to scalars: every struct field except
    * the non-deterministic audit.snapshotTs, plus the questionnaire
    * probes of `q_doc_assembly_flat`. This is what makes the EP1
    * composition hash-checkable end-to-end. */
  private def flattenDoc(doc: DataFrame): DataFrame = doc.select(
    col("prospect_id"),
    col("leadid"),
    col("administration.channel").as("admin_channel"),
    col("administration.createdDate").as("created_date"),
    col("administration.sourceCode").as("source_code"),
    col("customerDetails.name").as("cust_name"),
    col("customerDetails.segment").as("cust_segment"),
    col("customerDetails.nation").as("nation_name"),
    col("customerDetails.region").as("region_name"),
    col("customerDetails.balance").as("balance"),
    col("dealerDetails.dealerCode").cast("long").as("dealer_code"),
    col("dealerDetails.dealerName").as("dealer_name"),
    col("dealerDetails.dealerScore").as("dealer_score"),
    col("purchaseDetails.totalPrice").as("total_price"),
    col("purchaseDetails.status").as("status"),
    col("purchaseDetails.prospectType").as("prospect_type"),
    col("vehicleDetails.modelDesc").as("model_desc"),
    col("vehicleDetails.modelCode").as("model_code"),
    col("vehicleDetails.variantDesc").as("variant_desc"),
    col("vehicleDetails.queryDescription").as("query_description"),
    col("enrollmentDetails.interests").getItem(0).getField("questionId")
      .as("q0_id"),
    col("enrollmentDetails.interests").getItem(1).getField("response")
      .getItem(1).as("q1_resp2"),
    col("enrollmentDetails").isNull.as("enrollment_null"))

  /** DuckDB twin of the whole flagship build (`FULL:188-1450` as composed
    * in Flagship.scala). The repair ladder and model-master joins never
    * fan out on this star (s_suppkey / p_partkey are unique), so each
    * ladder collapses to per-column coalesce across its rounds'
    * left-join results; the surrogate key over unique o_orderkey
    * equals a global row_number (the equivalence q_w1_surrogate_global
    * already hash-proves). `where` lets the
    * outbound twin filter AFTER prospect_id assignment, matching the
    * delta running over the keyed pipeline output. */
  private def flagshipFlatSql(where: String): String = s"""
    WITH sm AS (
      SELECT 'nation_name' AS attributename,
             CAST(n_nationkey AS VARCHAR) AS av, n_name AS val FROM nation
      UNION ALL
      SELECT 'region_name', CAST(r_regionkey AS VARCHAR), r_name FROM region),
    s1 AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
             o.o_orderdate, o.o_orderpriority,
             coalesce(c.c_name, 'UNKNOWN') AS c_name,
             c.c_nationkey,
             coalesce(c.c_mktsegment, 'NA') AS c_mktsegment,
             c.c_acctbal,
             nm.val AS nation_name, rm.val AS region_name
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      LEFT JOIN (SELECT DISTINCT av, val FROM sm
                 WHERE attributename = 'nation_name') nm
        ON CAST(c.c_nationkey AS VARCHAR) = nm.av
      LEFT JOIN (SELECT DISTINCT av, val FROM sm
                 WHERE attributename = 'region_name') rm
        ON CAST(n.n_regionkey AS VARCHAR) = rm.av),
    s2 AS (
      SELECT *,
        CASE o_orderpriority WHEN '1-URGENT' THEN 'DIRECT'
          WHEN '2-HIGH' THEN 'DEALER' WHEN '3-MEDIUM' THEN 'WEB'
          ELSE 'OTHER' END AS channel0,
        CASE o_orderstatus WHEN 'F' THEN 'CLOSED' WHEN 'O' THEN 'OPEN'
          ELSE 'PENDING' END AS prospect_type,
        strftime(o_orderdate, '%d/%m/%Y') AS created_date,
        o_custkey % 150 AS k1
      FROM s1),
    rep AS (
      SELECT s2.*,
        CASE WHEN s2.channel0 IN ('DIRECT','DEALER')
             THEN coalesce(sa.s_suppkey, sb.s_suppkey, -1)
             ELSE coalesce(sb.s_suppkey, -1) END AS s_suppkey,
        CASE WHEN s2.channel0 IN ('DIRECT','DEALER')
             THEN coalesce(sa.s_name, sb.s_name, 'DEFAULT')
             ELSE coalesce(sb.s_name, 'DEFAULT') END AS s_name,
        CASE WHEN s2.channel0 IN ('DIRECT','DEALER')
             THEN coalesce(sa.s_acctbal, sb.s_acctbal, 0.0)
             ELSE coalesce(sb.s_acctbal, 0.0) END AS s_acctbal
      FROM s2
      LEFT JOIN supplier sa
        ON sa.s_suppkey = s2.k1 AND sa.s_nationkey = s2.c_nationkey
      LEFT JOIN supplier sb ON sb.s_suppkey = s2.k1),
    dup AS (SELECT p_name AS dup_name FROM part
            GROUP BY 1 HAVING count(*) > 1),
    mm AS (
      SELECT p_partkey,
        CASE WHEN d.dup_name IS NOT NULL
             THEN p.p_name || '-' || CAST(p.p_partkey AS VARCHAR)
             ELSE p.p_name END AS model_desc,
        p_brand AS model_code, p_type AS variant_desc
      FROM part p LEFT JOIN dup d ON p.p_name = d.dup_name),
    s5 AS (
      SELECT rep.*, mm.model_desc AS md0, mm.model_code,
             mm.variant_desc AS vd0
      FROM rep LEFT JOIN mm ON rep.o_orderkey % 2000 = mm.p_partkey),
    s6 AS (
      SELECT *,
        CASE WHEN channel0 = 'OTHER'
               AND c_mktsegment IN ('AUTOMOBILE','MACHINERY')
             THEN 'DEALER' ELSE channel0 END AS channel,
        coalesce(md0, 'UNKNOWN-MODEL') AS model_desc,
        coalesce(vd0, 'STD') AS variant_desc
      FROM s5),
    s7 AS (
      SELECT *,
        substr(concat_ws(' | ', prospect_type, nation_name, model_desc,
          s_name), 1, 2000) AS query_description,
        'PM' || lpad(CAST(row_number() OVER (ORDER BY o_orderkey)
          AS VARCHAR), 9, '0') AS prospect_id
      FROM s6)
    SELECT prospect_id,
      CAST(o_orderkey AS VARCHAR) AS leadid,
      channel AS admin_channel,
      created_date,
      o_orderpriority AS source_code,
      c_name AS cust_name,
      c_mktsegment AS cust_segment,
      nation_name, region_name,
      c_acctbal AS balance,
      CAST(s_suppkey AS BIGINT) AS dealer_code,
      s_name AS dealer_name,
      s_acctbal AS dealer_score,
      o_totalprice AS total_price,
      o_orderstatus AS status,
      prospect_type,
      model_desc, model_code, variant_desc, query_description,
      CASE WHEN o_orderstatus = 'O' THEN NULL ELSE 'QM004' END AS q0_id,
      CASE WHEN o_orderstatus = 'O' THEN NULL
           ELSE coalesce(o_orderstatus, '') END AS q1_resp2,
      (o_orderstatus = 'O') AS enrollment_null
    FROM s7 $where"""

  /** EP1 end-to-end, hash-checked: the flagship output flattened to
    * scalars against the full DuckDB reproduction. A stage-wiring bug
    * anywhere in the composition (wrong join key, dropped branch,
    * ladder-rung order) now fails the gate instead of passing rows-only. */
  private val flagshipFlat = Q("q_flagship_flat",
    (s, dir) => flattenDoc(graft.Flagship.prospectPipeline(s, dir)),
    flagshipFlatSql(""))

  /** EP2's delta semantics, hash-checked: the staged outbound docs
    * (only-new anti join over the flagship, `PUSH:207-224`) flattened and
    * compared to the flagship twin filtered to odd lead keys — the
    * fixture's docdb holds the even ones. prospect_id is assigned BEFORE
    * the delta, so the twin filters after the window.
    *
    * Shares [[graft.Outbound.shared]]'s stage-once artifact with
    * `q_outbound_push`: EP2 runs once per snapshot; the two queries are
    * two CONSUMERS of that run (flat validation view vs nested
    * materialization), so whichever runs first in a process pays the
    * flagship+delta build and the other reads the staged parquet —
    * rebuilding the whole upstream pipeline per consumer was the
    * anti-pattern the round-10 verdict flagged. */
  private val outboundFlat = Q("q_outbound_flat",
    (s, dir) => flattenDoc(graft.Outbound.shared(s, dir).docs),
    flagshipFlatSql("WHERE o_orderkey % 2 = 1"))

  /** EP2 outbound push, MATERIALIZED and hash-checked: the shared staged
    * delta docs (see q_outbound_flat) written nested to parquet, read
    * back, and flattened against the odd-lead-key flagship twin (same
    * oracle; the write stage pins the nested representation). The
    * validation report stays asserted in tests. */
  private val outbound = Q("q_outbound_push",
    (s, dir) => {
      val work = Stage.work("q_outbound_push", dir)
      flattenDoc(Sinks.stageOut(s, graft.Outbound.shared(s, dir).docs,
        s"$work/docs_nested"))
    },
    flagshipFlatSql("WHERE o_orderkey % 2 = 1"))

  /** Frame sampling over binary payloads (video frame-sample analog):
    * fixed 64-byte frames, length + content hash per frame. md5 over
    * ascii payload bytes == md5 over the substring in the oracle. */
  private val mmFrames = Q("q_mm_frame_sample",
    (s, dir) => Multimodal.sampleFrames(
      Multimodal.asMedia(Tables.load(s, dir, "documents")), frameBytes = 64),
    """
      WITH f AS (SELECT doc_id AS media_id, text,
          CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents),
      idx AS (SELECT media_id, text,
          unnest(range(0, (n_bytes - 1) // 64 + 1)) AS frame_idx
        FROM f)
      SELECT media_id, frame_idx,
        CAST(octet_length(encode(substr(text, CAST(frame_idx * 64 + 1 AS INTEGER), 64))) AS BIGINT) AS frame_len,
        md5(substr(text, CAST(frame_idx * 64 + 1 AS INTEGER), 64)) AS frame_md5
      FROM idx""")

  /** Stream-static enrichment join (stream events ⋈ static customer dim,
    * broadcast per micro-batch) — oracle is the batch equivalent. */
  private val streamEnrich = Q("q_stream_static_join",
    (s, dir) => graft.streaming.EventsStream.enrichedStream(s, dir),
    """
      SELECT event_type, coalesce(c_mktsegment, 'NONE') AS segment,
        count(*) AS n
      FROM events LEFT JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2""")

  /** Resize stub: 1-in-4 byte downsample with length + content hash
    * (image-resize analog; oracle steps the string the same way). */
  private val mmResize = Q("q_mm_resize",
    (s, dir) => Multimodal.resize(
      Multimodal.asMedia(Tables.load(s, dir, "documents")), k = 4),
    """
      WITH b AS (SELECT doc_id AS media_id, text,
          CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents),
      r AS (SELECT media_id, n_bytes,
          list_aggr(list_transform(range(1, CAST(n_bytes AS INTEGER) + 1, 4),
            i -> substr(text, CAST(i AS INTEGER), 1)), 'string_agg', '') AS resized
        FROM b)
      SELECT media_id, n_bytes,
        CAST(octet_length(encode(resized)) AS BIGINT) AS resized_len,
        md5(resized) AS resized_md5
      FROM r""")

  /** Multimodal end-to-end curation (the media twin of the text leg's
    * `q_pretrain_full`): ingest → partition-wise stub decode → quality
    * gate on decoded features (n_bytes ≥ 64) → 64-byte frame sampling
    * → cross-media exact frame dedup → keep decision. Wires asMedia +
    * extractFeatures + sampleFrames + the frame-hash dedup profile in
    * one hash-checked composition — a stage-wiring bug anywhere (gate
    * before/after the explode, dup hash universe, join keys) fails the
    * gate. ASCII fixtures keep byte- and char-slicing aligned between
    * the engines (same contract as q_mm_frame_sample). */
  private val mmPipeline = Q("q_multimodal_pipeline",
    (s, dir) => Multimodal.curationPipeline(
      Tables.load(s, dir, "documents"), frameBytes = 64,
      minBytes = 64L, maxDupFrac = 0.5),
    """
      WITH b AS (SELECT doc_id AS media_id, text,
          CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          list_transform(string_split(text, ''), x -> ord(x)) AS cps
        FROM documents),
      feat AS (SELECT media_id, text, n_bytes,
          CAST(n_bytes % 640 AS INTEGER) AS width,
          CAST((n_bytes * 7) % 480 AS INTEGER) AS height,
          CAST(list_sum(cps) AS DOUBLE) / n_bytes AS mean_byte
        FROM b WHERE n_bytes >= 64),
      fr AS (SELECT media_id,
          md5(substr(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS frame_md5
        FROM feat, unnest(range(0, (n_bytes - 1) // 64 + 1)) AS u(i)),
      dup AS (SELECT frame_md5 FROM fr GROUP BY frame_md5
              HAVING count(DISTINCT media_id) > 1),
      nd AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_dup
             FROM fr WHERE frame_md5 IN (SELECT frame_md5 FROM dup)
             GROUP BY media_id),
      nf AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames
             FROM fr GROUP BY media_id)
      SELECT f.media_id, n_bytes, width, height, mean_byte, n_frames,
        coalesce(n_dup, 0) AS n_dup_frames,
        round(CAST(coalesce(n_dup, 0) AS DOUBLE) / n_frames, 6)
          AS dup_frame_frac,
        CAST(coalesce(n_dup, 0) AS DOUBLE) / n_frames < 0.5 AS keep
      FROM feat f JOIN nf USING (media_id) LEFT JOIN nd USING (media_id)""")

  /** Streaming dedup (dropDuplicates inside the watermark) — oracle is
    * the batch distinct count. */
  private val streamDedup = Q("q_stream_dedup",
    (s, dir) => graft.streaming.EventsStream.dedupedCounts(s, dir),
    """
      SELECT event_type, count(DISTINCT event_id) AS n_unique
      FROM events GROUP BY event_type""")

  /** Streaming MERGE materialization (multi-batch upsert into versioned
    * state, latest by event time) — oracle is the batch latest-per-user
    * window, which the converged state must equal exactly. */
  private val streamMerge = Q("q_stream_merge_sink",
    (s, dir) => graft.streaming.EventsStream.mergeSink(s, dir,
      Stage.work("q_stream_merge_sink", dir)),
    """
      WITH r AS (
        SELECT user_id, ts, event_id, value,
          row_number() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        value AS last_value
      FROM r WHERE rn = 1""")

  val all: Seq[Q] = Seq(mmPlumbing, mmDecode, mmFrames, mmResize, mmPipeline,
    streamHourly, streamEnrich, streamDedup, streamSink, streamStream,
    streamOuter, streamMerge, streamTws, stateReader, streamSessionize,
    user360, flagship, flagshipFlat, outbound, outboundFlat)
}
