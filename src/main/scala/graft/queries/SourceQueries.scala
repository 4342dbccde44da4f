package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{Bucketing, Jdbc, Sinks, Stage, Tables}
import graft.operators.Delta

/** Remaining source/sink/catalog surface (SURVEY.md §2a) + the §5
  * reconciliation block as a first-class query.
  *
  * S4 (JDBC) is exercised for real against embedded Derby (see
  * `sources/Jdbc.scala`) alongside the BCP-style CSV staging leg.
  * S5/S6 (DocumentDB connector) have no local endpoint — per SURVEY they
  * are modeled as parquet snapshot ingest (S2/S3) and nested-document
  * writes (q_doc_assembly_nested); the connector plumbing is config, not
  * query semantics.
  */
object SourceQueries {

  /** S7: driver-lifted JSON payloads → columns. The reference lifts REST
    * JSON via createDataFrame (`FULL:150-156`); here the JSON rides in
    * `events.props` and is lifted with from_json — the engine-side half
    * of the same pattern. */
  private val jsonLift = Q("q_s7_json_lift",
    (s, dir) =>
      Tables.load(s, dir, "events")
        .withColumn("p", from_json(col("props"),
          StructType(Seq(StructField("k", IntegerType)))))
        .select(col("event_id"), col("event_type"),
          col("p.k").as("k"),
          (col("p.k") % 10).as("k_bucket")),
    """
      SELECT event_id, event_type,
        TRY_CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) AS k,
        TRY_CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER) % 10 AS k_bucket
      FROM events""")

  /** S7 (file-source form): JSON-lines roundtrip — write a projection as
    * JSON, read it back with schema inference (the reference's
    * REST-JSON → DataFrame lift, done at the file layer). */
  private val jsonRoundtrip = Q("q_s7_json_roundtrip",
    (s, dir) => {
      val path = Stage.work("q_s7_json_roundtrip", dir)
      Tables.load(s, dir, "events")
        .select("event_id", "event_type", "value")
        .write.mode("overwrite").json(path)
      s.read.json(path).select("event_id", "event_type", "value")
    },
    "SELECT event_id, event_type, value FROM events")

  /** S7 (pagination tail): the reference's REST pagination loop
    * (`FULL:159-183`) — a first payload yields the page cursors
    * (distinct non-null stateCd analog), each cursor is fetched as one
    * JSON page, a page must VALIDATE by echoing its own cursor
    * (`FULL:171-180`: a page answering for the wrong cursor is dropped,
    * not unioned), and the surviving pages concatenate into one frame.
    * Modeled with `customer` as the remote API: page k = nation k's
    * customers as a JSON-lines payload carrying the echoed cursor; page
    * 3 deliberately echoes -1 to exercise the drop leg.
    *
    * Validation + union are ONE distributed job (no per-cursor driver
    * round-trips — at a 10k-cursor API the r7 driver loop was 20k Spark
    * jobs): all pages read through one partition-discovered scan with
    * `page` as the partition column, the echo check is a per-page
    * window aggregate, and mismatching pages drop wholesale. The
    * reference validates via `data[0]` alone; the per-page min
    * generalizes that to every row (identical here — a page echoes one
    * cursor — and strictly safer against mixed-payload pages). A cursor
    * whose fetch failed produced no page directory, so it is absent
    * from the discovered partitions — the try/except drop leg for
    * free, no fs.exists probes. Plan shape pinned in Round8Spec. */
  private val jsonPaged = Q("q_s7_json_paged",
    (s, dir) => {
      val base = Stage.work("q_s7_json_paged", dir)
      val cust = Tables.load(s, dir, "customer")
      // the first payload's cursor list, kept distributed: restrict the
      // staged pages to known cursors with a semi join, never a collect
      val cursors = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("c_nationkey"))
        .where(col("c_nationkey").isNotNull)
      // fixture scaffolding, not the modeled behavior: the per-cursor
      // JSON payloads land in ONE partitioned write (page=<cursor> dirs)
      cust.join(cursors.hint("broadcast"), Seq("c_nationkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          when(col("c_nationkey") === 3L, lit(-1L)) // the page that lies
            .otherwise(col("c_nationkey").cast("long")).as("page_cursor"),
          col("c_nationkey").cast("long").as("page"))
        .write.mode("overwrite").partitionBy("page").json(s"$base/pages")
      val pageSchema = "c_custkey LONG, c_name STRING, c_acctbal DOUBLE, " +
        "page_cursor LONG, page LONG"
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("page"))
      s.read.schema(pageSchema).json(s"$base/pages")
        .withColumn("__echo_ok",
          min((col("page_cursor") === col("page")).cast("int")).over(w))
        .filter(col("__echo_ok") === 1)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("page_cursor"))
    },
    """
      SELECT c_custkey, c_name, c_acctbal,
        CAST(c_nationkey AS BIGINT) AS page_cursor
      FROM customer WHERE c_nationkey <> 3""")

  /** S4 (staging form): CSV snapshot roundtrip — the BCP-style flat-file
    * staging leg (reference runbook `BCP:37-101`): dump to CSV with
    * header, re-ingest with schema inference, land as a snapshot. */
  private val csvSnapshot = Q("q_s4_csv_snapshot",
    (s, dir) => {
      val path = Stage.work("q_s4_csv_snapshot", dir)
      Tables.load(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true").option("inferSchema", "true").csv(path)
        // inference narrows small ints — restore the table's exact types
        .select(col("s_suppkey").cast("long"), col("s_name"),
          col("s_nationkey").cast("int"), col("s_acctbal").cast("double"))
    },
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")

  /** S4 (connector form): the real `spark.read.format("jdbc")` path
    * against embedded Derby — seed the table over JDBC, read it back with
    * a 4-way range-partitioned scan, land the parquet snapshot, re-read
    * (`JDBC:88-90`). Same supplier oracle as the CSV staging leg. */
  private val jdbcSnapshot = Q("q_s4_jdbc_snapshot",
    (s, dir) => {
      val url = Jdbc.memoryUrl("graft_s4")
      Jdbc.seed(
        Tables.load(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
        url, "supplier_src",
        // Derby's dialect default for StringType is CLOB; pin VARCHAR
        columnTypes = Some("s_name VARCHAR(64)"))
      Jdbc.snapshot(s, url, "supplier_src",
        partitionColumn = "s_suppkey", lowerBound = 0L, upperBound = 10000L,
        numPartitions = 4,
        stagePath = Stage.work("q_s4_jdbc_snapshot", dir))
        .select(col("s_suppkey"), col("s_name"),
          col("s_nationkey"), col("s_acctbal"))
    },
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")

  /** S2 (full form): Hive-style partitioned overwrite via partitionBy —
    * the reference's dataset_date=/job_run_id= directory layout
    * (`FULL:72`, `PUSH:65`) — then read back through partition
    * discovery. */
  private val partSink = Q("q_s2_partitioned_sink",
    (s, dir) => {
      val path = Stage.work("q_s2_partitioned_sink", dir)
      val src = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      Sinks.writePartitioned(src, path, Seq("o_orderstatus"))
      Tables.readAs(s, Sinks.partitionedSchema(src.schema, Seq("o_orderstatus")), path)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    },
    """
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders""")

  /** S9: catalog metadata ops — SHOW TABLES over the registered temp-view
    * catalog (the local analogue of the Glue catalog, `FULL:122-131`). */
  private val catalog = Q("q_s9_catalog_tables",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("SHOW TABLES").select(col("tableName").as("table_name"))
        .filter(col("table_name").isin(Tables.names: _*))
    },
    Tables.names.sorted
      .map(n => s"SELECT '$n' AS table_name")
      .mkString("\n      UNION ALL "))

  /** S9 (DDL form): external partitioned table over the Hive-style sink +
    * partition recovery + SHOW PARTITIONS — the engine-side analogue of
    * the reference's `alter table … add partition` catalog refresh
    * (`PUSH:175-184`). */
  private val partitions = Q("q_s9_show_partitions",
    (s, dir) => {
      // own stage path — sharing q_s2_partitioned_sink's directory would
      // be an ordering hazard if queries ever ran concurrently
      val path = Stage.work("q_s9_show_partitions", dir)
      Sinks.writePartitioned(
        Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
        path, Seq("o_orderstatus"))
      s.sql("DROP TABLE IF EXISTS orders_by_status")
      s.sql(s"""CREATE TABLE orders_by_status
                (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
                 o_orderstatus STRING)
                USING parquet PARTITIONED BY (o_orderstatus)
                LOCATION '$path'""")
      s.sql("MSCK REPAIR TABLE orders_by_status") // discover partitions
      s.sql("SHOW PARTITIONS orders_by_status")
        .select(col("partition").as("partition_dir"))
    },
    """
      SELECT DISTINCT 'o_orderstatus=' || o_orderstatus AS partition_dir
      FROM orders""")

  /** §5: the reconciliation block (`PUSH:369-457`) as data — counts,
    * column-set equality, symmetric MINUS both ways, and the aggregate
    * validation verdict the reference raises on. */
  private val reconcile = Q("q_reconcile_report",
    (s, dir) => {
      import s.implicits._
      val src = Tables.load(s, dir, "lineitem")
        .where(col("l_linestatus") === "F")
        .select("l_orderkey", "l_partkey", "l_suppkey")
      val tgt = Tables.load(s, dir, "lineitem")
        .where(col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")))
        .select("l_orderkey", "l_partkey", "l_suppkey")
      val r = Delta.reconcile(src, tgt)
      Seq((r.srcCount, r.tgtCount,
        r.missingCols.length.toLong, r.extraCols.length.toLong,
        r.srcMinusTgt, r.tgtMinusSrc, r.ok))
        .toDF("src_count", "tgt_count", "n_missing_cols", "n_extra_cols",
          "src_minus_tgt", "tgt_minus_src", "is_ok")
    },
    """
      WITH src AS (SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
                   WHERE l_linestatus = 'F'),
           tgt AS (SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
                   WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00'),
           m1 AS (SELECT count(*) AS a FROM (SELECT * FROM src EXCEPT SELECT * FROM tgt)),
           m2 AS (SELECT count(*) AS b FROM (SELECT * FROM tgt EXCEPT SELECT * FROM src))
      SELECT (SELECT count(*) FROM src) AS src_count,
             (SELECT count(*) FROM tgt) AS tgt_count,
             CAST(0 AS BIGINT) AS n_missing_cols,
             CAST(0 AS BIGINT) AS n_extra_cols,
             m1.a AS src_minus_tgt,
             m2.b AS tgt_minus_src,
             ((SELECT count(*) FROM src) = (SELECT count(*) FROM tgt)
              AND m1.a = 0 AND m2.b = 0) AS is_ok
      FROM m1, m2""")

  /** Bucketed co-located join: both sides pre-bucketed on the join key →
    * shuffle-free sort-merge join (plan asserted in BucketingSpec). */
  private val bucketed = Q("q_bucketed_join",
    (s, dir) => Bucketing.coLocatedOrderJoin(s, dir),
    """
      SELECT o_orderkey, count(*) AS n_items, sum(l_quantity) AS sum_qty,
        max(o_totalprice) AS total_price
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderkey""")

  /** S10 (engine-side replacement): schema evolution on read. The
    * reference ran a crawler to reconcile drifting batch schemas; Spark
    * replaces that with `mergeSchema` — two batches written with
    * different column sets read back as one frame with the union schema,
    * absent columns null-filled. The oracle states the same union
    * semantics directly over `orders`. */
  private val schemaMerge = Q("q_s10_schema_merge",
    (s, dir) => {
      val path = Stage.work("q_s10_schema_merge", dir)
      val base = Tables.load(s, dir, "orders")
        .where(col("o_orderstatus") === "F")
      base.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$path/batch=1")
      base.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$path/batch=2")
      s.read.option("mergeSchema", "true").parquet(path)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    },
    """
      SELECT o_orderkey, o_totalprice,
        CAST(NULL AS VARCHAR) AS o_orderpriority
      FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority
      FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 2 = 1""")

  /** S11 (beyond-parity format): ORC sink + source roundtrip — the
    * second columnar format Spark ships natively. Types survive exactly
    * (no CSV-style inference repair needed); the read side prunes and
    * pushes down the same way the parquet scans do. */
  private val orcRoundtrip = Q("q_s11_orc_roundtrip",
    (s, dir) => {
      val path = Stage.work("q_s11_orc_roundtrip", dir)
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
          "o_orderpriority")
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .where(col("o_totalprice") > 1000.0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
          "o_orderpriority")
    },
    """
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
        o_orderpriority
      FROM orders WHERE o_totalprice > 1000.0""")

  /** S7 (path form): JSON-path extraction from an embedded JSON string
    * column — both the schemaless `get_json_object` probe and the typed
    * `from_json` parse, side by side (the two ways a pipeline lifts
    * semi-structured props without a staging hop). */
  private val jsonPath = Q("q_s7_json_path",
    (s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("long").as("k_num"),
          from_json(col("props"), "k BIGINT",
            Map.empty[String, String]).getField("k").as("k_typed")),
    """
      SELECT event_id,
        json_extract_string(props, '$.k') AS k_str,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed
      FROM events""")

  /** S2 (size-managed form): compaction write — range-partitioned,
    * sorted, row-capped files (`Sinks.compactWrite`) read back through
    * partition discovery. The value hash-checks the roundtrip; the
    * file-count/size bounds are asserted in LayoutTemporalSpec. */
  private val compactSink = Q("q_s2_compact_sink",
    (s, dir) => {
      val path = Stage.work("q_s2_compact_sink", dir)
      Sinks.compactWrite(
        Tables.load(s, dir, "documents").select("doc_id", "source", "n_chars"),
        path, col("doc_id"), nPartitions = 4, maxRecordsPerFile = 100L)
      Tables.read(s, path).select("doc_id", "source", "n_chars")
    },
    "SELECT doc_id, source, n_chars FROM documents")

  /** S7 (resilience form): malformed-record-tolerant JSON ingest.
    * Every tenth line of the staged feed is truncated mid-object;
    * PERMISSIVE mode quarantines those into `_corrupt_record` instead of
    * failing the job — the posture a 100 TB ingest needs, where some
    * malformed input is a certainty and one bad line must not kill a
    * thousand-executor read. The good/quarantined split is hash-checked
    * against the staging rule. */
  private val jsonCorrupt = Q("q_s7_json_corrupt",
    (s, dir) => {
      val path = Stage.work("q_s7_json_corrupt", dir)
      Tables.load(s, dir, "events")
        .select(when(col("event_id") % 10 === 0,
            // truncated mid-object: unparseable on read
            concat(lit("""{"event_id": """), col("event_id"),
              lit(""", "value""")))
          .otherwise(
            concat(lit("""{"event_id": """), col("event_id"),
              lit(""", "value": """), col("value"), lit("}")))
          .as("value"))
        .write.mode("overwrite").text(path)
      s.read
        .schema("event_id LONG, value DOUBLE, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .agg(
          count(col("event_id")).as("n_good"),
          count(col("_corrupt_record")).as("n_corrupt"),
          sum(when(col("_corrupt_record").isNull,
              col("value").cast(DecimalType(14, 4))))
            .cast("double").as("sum_good_value"))
    },
    """
      SELECT
        count(*) FILTER (WHERE event_id % 10 <> 0) AS n_good,
        count(*) FILTER (WHERE event_id % 10 = 0) AS n_corrupt,
        CAST(sum(CAST(value AS DECIMAL(14,4)))
          FILTER (WHERE event_id % 10 <> 0) AS DOUBLE) AS sum_good_value
      FROM events""")

  /** File-level data skipping over a z-ordered layout: cluster lineitem
    * by the Morton key of (partkey, suppkey), build the min/max manifest
    * on partkey, and answer a selective partkey range by opening only
    * intersecting files (`DataSkipping`). The result is exactly the
    * predicate's rows — pruning is IO-only — and the skip ratio itself
    * is asserted in LayoutTemporalSpec. */
  private val prunedScan = Q("q_skip_pruned_scan",
    (s, dir) => {
      val staged = Sinks.stageOut(s,
        graft.functions.ZOrder.clusterByZ(
          Tables.load(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
          col("l_partkey"), col("l_suppkey"), 16),
        Stage.work("q_skip_pruned_scan", dir))
      graft.sources.DataSkipping
        .rangeScan(staged, "l_partkey", lo = 100L, hi = 500L)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    },
    """
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
      FROM lineitem WHERE l_partkey BETWEEN 100 AND 500""")

  /** Calendar-dimension build via a RECURSIVE CTE (new in Spark 4) —
    * the warehouse date spine generated in-engine, one row per day with
    * portable derived attributes (day-of-week from epoch-day arithmetic
    * so both engines agree on the 1970-01-01-was-Thursday anchor; DATE
    * itself is emitted as a string per the cross-engine dtype rule). */
  private val calendarDim = Q("q_s12_calendar_dim",
    (s, dir) => s.sql("""
      WITH RECURSIVE cal (d) AS (
        SELECT DATE '2024-01-01' AS d
        UNION ALL
        SELECT date_add(d, 1) FROM cal WHERE d < DATE '2024-03-31')
      SELECT CAST(d AS STRING) AS day_str,
        CAST((FLOOR(unix_date(d)) + 4) % 7 AS BIGINT) AS dow,
        ((unix_date(d) + 4) % 7) IN (0, 6) AS is_weekend,
        CAST(month(d) AS BIGINT) AS mth,
        CAST(unix_date(d) AS BIGINT) AS epoch_day
      FROM cal"""),
    """
      WITH RECURSIVE cal (d) AS (
        SELECT DATE '2024-01-01' AS d
        UNION ALL
        SELECT d + 1 FROM cal WHERE d < DATE '2024-03-31')
      SELECT strftime(d, '%Y-%m-%d') AS day_str,
        CAST((epoch(d) // 86400 + 4) % 7 AS BIGINT) AS dow,
        ((epoch(d) // 86400 + 4) % 7) IN (0, 6) AS is_weekend,
        CAST(month(d) AS BIGINT) AS mth,
        CAST(epoch(d) // 86400 AS BIGINT) AS epoch_day
      FROM cal""")

  /** S13: opaque binary-object ingest via the `binaryFile` source — the
    * real multimodal on-ramp (image/audio/video blobs enter the engine
    * as (path, length, content) rows; `Multimodal.asMedia` takes over
    * from there). Documents are staged into a multi-file layout, then
    * re-ingested as opaque blobs; the oracle stats the same staged
    * objects. Content bytes stay distributed, never on the driver.
    *
    * Staged-path-oracle protocol note (also S14): the DuckDB twin reads
    * the files the query staged BY PATH, and the oracle SQL is a fixed
    * string — so the stage path is keyed on the input dir
    * (Stage.forInput: a concurrent bench at another scale factor can
    * never overwrite this dir's stage mid-read, the r13 hazard) and the
    * oracle pins the path the DRIVER's correctness gate stages, i.e.
    * its /root/testdata/sf0.01 Verify run. A Verify at any other dir
    * still stages and dumps correctly; only the DuckDB twin is bound to
    * the driver's gate dir — same single-sf contract as before, now
    * clobber-proof. The pinned path sits under this JVM's `Stage.root`,
    * so it follows the working directory Verify runs in. */
  private val binaryIngest = Q("q_s13_binary_ingest",
    (s, dir) => {
      val path = Stage.forInput("q_s13_binary_ingest", dir)
      Tables.load(s, dir, "documents").repartition(4)
        .write.mode("overwrite").parquet(path)
      // part ordinal, not the raw file name: Spark part files embed a
      // per-job UUID, which would break cross-run determinism
      s.read.format("binaryFile")
        .option("pathGlobFilter", "part-*.parquet")
        .load(path)
        .select(
          regexp_extract(element_at(split(col("path"), "/"), -1),
            "part-([0-9]+)", 1).cast("long").as("file_idx"),
          col("length"))
    },
    s"""
      SELECT CAST(regexp_extract(parse_filename(filename),
          'part-([0-9]+)', 1) AS BIGINT) AS file_idx,
        CAST(size AS BIGINT) AS length
      FROM read_blob(
        '${Stage.forInput("q_s13_binary_ingest", "/root/testdata/sf0.01")}/part-*.parquet')""")

  /** S14: file-provenance columns (`_metadata.file_name`) — per-file row
    * counts and key ranges over a range-partitioned layout: the
    * debugging/audit surface a 100 TB lake needs when one bad input
    * file poisons a build (and the min/max ranges double as the
    * data-skipping manifest the z-order layout uses). */
  private val fileProvenance = Q("q_s14_file_provenance",
    (s, dir) => {
      val path = Stage.forInput("q_s14_file_provenance", dir)
      // part ordinal, not the raw file name (per-job UUID — see S13)
      Sinks.stageOut(s,
          Tables.load(s, dir, "documents").repartitionByRange(4, col("doc_id")),
          path)
        .select(regexp_extract(col("_metadata.file_name"),
            "part-([0-9]+)", 1).cast("long").as("file_idx"),
          col("doc_id"))
        .groupBy(col("file_idx"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    },
    s"""
      SELECT CAST(regexp_extract(parse_filename(filename),
          'part-([0-9]+)', 1) AS BIGINT) AS file_idx,
        count(*) AS n_rows,
        min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM read_parquet(
        '${Stage.forInput("q_s14_file_provenance", "/root/testdata/sf0.01")}/part-*.parquet',
        filename = true)
      GROUP BY 1""")

  /** S15: semi-structured lift via the native VARIANT type (Spark 4) —
    * `parse_json` once into a binary-encoded variant column, then typed
    * `variant_get` paths. At 100 TB this beats repeated string JSON
    * parsing: the variant encodes once at ingest and every downstream
    * extraction is a binary path walk, shredding-friendly. Oracle is
    * DuckDB's JSON extraction over the same props. */
  private val variantLift = Q("q_s15_variant_lift",
    (s, dir) => {
      Tables.load(s, dir, "events")
        .selectExpr("event_id", "event_type",
          "parse_json(props) AS v")
        .selectExpr("event_type",
          "variant_get(v, '$.k', 'long') AS k")
        .groupBy(col("event_type"), (col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
    },
    """
      SELECT event_type,
        CAST(props->>'$.k' AS BIGINT) % 10 AS k_mod,
        count(*) AS n,
        min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
        max(CAST(props->>'$.k' AS BIGINT)) AS max_k
      FROM events GROUP BY 1, 2""")

  /** SQL pipe syntax (Spark 4): the pricing-summary aggregation written
    * as a `|>` pipeline — same relation, linear dataflow spelling; the
    * oracle is the classic form. Dialect surface only: the plan is
    * identical to the GROUP BY form. */
  private val pipeSyntax = Q("q_sql_pipe_agg",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        FROM lineitem
        |> WHERE l_quantity > 10
        |> AGGREGATE count(*) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS sum_price
           GROUP BY l_returnflag, l_linestatus""")
    },
    """
      SELECT l_returnflag, l_linestatus, count(*) AS n,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
          AS sum_price
      FROM lineitem WHERE l_quantity > 10
      GROUP BY l_returnflag, l_linestatus""")

  /** Snapshot diff: yesterday's table vs today's → the I/U/D changeset
    * (`Delta.snapshotDiff`, the inverse of the CDC apply). Snapshots
    * are derived deterministically from orders: every 7th key deleted,
    * every 5th repriced, every 11th re-inserted under a shifted key. */
  private val snapshotDiff = Q("q_snapshot_diff",
    (s, dir) => {
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val curr = base.filter(col("o_orderkey") % 7 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 10)
            .otherwise(col("o_totalprice")))
        .unionByName(base.filter(col("o_orderkey") % 11 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice")))
      Delta.snapshotDiff(base, curr, "o_orderkey")
    },
    """
      WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                    FROM orders),
      curr AS (
        SELECT o_orderkey, o_orderstatus,
          CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10
               ELSE o_totalprice END AS o_totalprice
        FROM base WHERE o_orderkey % 7 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        FROM base WHERE o_orderkey % 11 = 0),
      j AS (SELECT coalesce(c.o_orderkey, b.o_orderkey) AS o_orderkey,
          CASE WHEN b.o_orderkey IS NULL THEN 'I'
               WHEN c.o_orderkey IS NULL THEN 'D'
               WHEN b.o_totalprice IS DISTINCT FROM c.o_totalprice
                 OR b.o_orderstatus IS DISTINCT FROM c.o_orderstatus
               THEN 'U' END AS op,
          c.o_orderstatus AS o_orderstatus,
          c.o_totalprice AS o_totalprice
        FROM base b FULL JOIN curr c ON b.o_orderkey = c.o_orderkey)
      SELECT o_orderkey, op, o_orderstatus, o_totalprice
      FROM j WHERE op IS NOT NULL""")

  /** S5 (the last locally-buildable slice, verdict r12 #2): schema
    * inference by BOUNDED SAMPLING — the Mongo sampling partitioner
    * (`PUSH:78-81`, `sampleSize: 100000`) infers the collection schema
    * from the first N sampled documents, then applies it to the full
    * scan. The fixture makes the interesting semantic bite: the head
    * (doc_id % 5 ≠ 0, ≥400 docs at every sf) carries base fields only;
    * the tail file adds `leadid` + `extra_score`. With sampleSize=256
    * the sample never leaves the head file, so the inferred schema
    * misses both tail fields: tail docs still parse, `extra_score`
    * vanishes (an extra output column would fail the schema check if
    * inference ever leaked past the sample), and the `'leadid' in
    * columns` runtime guard (`PUSH:206`) takes the ABSENT branch —
    * null leadid for every row, including the tail docs that carried
    * one in the raw JSON. A full-scan inference flips all three.
    * The collection fixture is staged by
    * `DocCollection.stageFixture` (build-if-absent, per-input-dir
    * path) — the query itself is read-only once staged. */
  private val docSampled = Q("q_s16_doc_sampled",
    (s, dir) => {
      val coll = graft.sources.DocCollection.stageFixture(s, dir)
      val read = graft.sources.DocCollection.readSampled(
        s, coll, sampleSize = 256L)
      val guarded = graft.sources.DocCollection.withLeadidGuard(read)
      guarded.select(guarded.columns.sorted.map(col).toIndexedSeq: _*)
    },
    """
      SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS leadid, n_chars, source
      FROM documents""")

  /** S5 composed end-to-end (verdict r13 #7): the one-path outbound
    * story — sampled-schema collection read → `leadid` runtime guard
    * (`PUSH:206`) → coalesce-guarded only-new delta (`PUSH:207-224`)
    * → nested document write + read-back. Run TWICE in one frame,
    * tagged by inference mode, to pin the operational consequence of
    * bounded-sample inference: the sampled read misses the tail
    * shard's `leadid`, so the guard nulls the collection's keys and
    * the delta OVER-PUSHES every incoming document; full inference
    * sees them and the delta correctly excludes the already-present
    * tail (doc_id % 5 = 0). A regression in any stage — sample
    * horizon, guard branch, anti-join null handling, nested layout —
    * breaks one of the two legs' hashes. */
  private val s5Outbound = Q("q_s5_outbound_sampled",
    (s, dir) => {
      val coll = graft.sources.DocCollection.stageFixture(s, dir)
      // the incoming snapshot assigns every document its lead key
      val incoming = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("L"), col("doc_id").cast("string")).as("leadid"),
          col("lang"), col("source"))
      def deltaAgainst(existing: org.apache.spark.sql.DataFrame,
          mode: String): org.apache.spark.sql.DataFrame = {
        val guarded = graft.sources.DocCollection.withLeadidGuard(existing)
        graft.operators.Delta.newKeysOnly(
          incoming, guarded.select("leadid"), "leadid", "leadid")
          .withColumn("mode", lit(mode))
      }
      val sampled = deltaAgainst(
        graft.sources.DocCollection.readSampled(s, coll, 256L), "sampled")
      val full = deltaAgainst(
        s.read.option("recursiveFileLookup", "true").json(coll), "full")
      val nested = sampled.unionByName(full)
        .select(col("mode"), struct(col("doc_id"), col("leadid"),
          col("lang"), col("source")).as("doc"))
      // Stage.work (per-input-dir + owning pid): the r14 advice's
      // residual hazard — two processes on the SAME dir (campaign
      // clone + working tree) clobbering one per-dir path mid-read
      val work = Stage.work("q_s5_outbound_sampled", dir)
      Sinks.stageOut(s, nested, work).select(col("mode"),
        col("doc.doc_id").as("doc_id"), col("doc.leadid").as("leadid"),
        col("doc.lang").as("lang"), col("doc.source").as("source"))
    },
    """
      SELECT 'sampled' AS mode, doc_id,
        'L' || CAST(doc_id AS VARCHAR) AS leadid, lang, source
      FROM documents
      UNION ALL
      SELECT 'full', doc_id, 'L' || CAST(doc_id AS VARCHAR), lang, source
      FROM documents WHERE doc_id % 5 <> 0""")

  val all: Seq[Q] = Seq(jsonLift, jsonRoundtrip, jsonPaged, csvSnapshot,
    jdbcSnapshot, partSink, catalog, partitions, reconcile, bucketed,
    schemaMerge, orcRoundtrip, jsonPath, compactSink, jsonCorrupt,
    prunedScan, calendarDim, binaryIngest, fileProvenance, variantLift,
    pipeSyntax, snapshotDiff, docSampled, s5Outbound)
}
