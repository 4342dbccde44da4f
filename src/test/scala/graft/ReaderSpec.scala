package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{Sinks, Tables}

/** The one parquet reader (`Tables.read`, `Tables.readAs`): the schema it
  * reads with is the one Spark infers, a repeated read of an unchanged
  * file set starts no Spark job, a changed file set or inference conf
  * infers again, a missing path fails as the raw read does, and no other
  * file in `src/main` reads parquet on its own. */
class ReaderSpec extends SparkSuite {

  private def raw(paths: String*): DataFrame = spark.read.parquet(paths: _*)


  /** Writes `rows` with parquet-mr's example writer, so the file carries
    * no Spark schema and Spark infers from the parquet types alone. */
  private def writeBare(path: String, message: String)(
      rows: Seq[Seq[(String, Any)]]): Unit = {
    Files.deleteIfExists(Paths.get(path))
    Files.createDirectories(Paths.get(path).getParent)
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(new HPath(path))
      .withType(schema).withConf(new Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { row =>
      val g = groups.newGroup()
      row.foreach {
        case (k, v: Long) => g.append(k, v)
        case (k, v: String) => g.append(k, v)
        case (k, v) => fail(s"unsupported value $v for $k")
      }
      w.write(g)
    } finally w.close()
  }

  /** The parquet relations of `df`'s plan: root paths and the schema the
    * relation reads with. */
  private def relations(df: DataFrame): Seq[(Seq[String], StructType)] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation =>
      (r.location.rootPaths.map(_.toString), r.schema)
    }

  test("Tables.read gives the raw read's schema: sf0.001 tables, a partitioned dir, a nanos file") {
    Tables.names.foreach { n =>
      val p = Tables.path(sf, n)
      // the first read infers, the second takes the remembered schema
      assert(Tables.read(spark, p).schema == raw(p).schema, n)
      assert(Tables.read(spark, p).schema == raw(p).schema, n)
    }
    val parted = scratch("partitioned")
    Sinks.writePartitioned(Tables.load(spark, sf, "orders"), parted,
      Seq("o_orderstatus", "o_orderpriority"))
    assert(Tables.read(spark, parted).schema == raw(parted).schema)
    assert(Tables.read(spark, parted).schema.last.name == "o_orderpriority")

    val nanos = scratch("nanos/events.parquet")
    writeBare(nanos,
      "message e { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")(
      (0 until 8).map(i => Seq("event_id" -> i.toLong,
        "ts" -> (1700000000000000000L + i * 1001L))))
    // the session reads nanos as long (GraftSession), and so does the reader
    assert(raw(nanos).schema("ts").dataType == LongType)
    assert(Tables.read(spark, nanos).schema == raw(nanos).schema)
    assert(Tables.read(spark, nanos).schema == raw(nanos).schema)
    assert(Tables.load(spark, scratch("nanos"), "events").schema("ts").dataType == TimestampType)
  }

  test("a stage read back with its written schema has the schema Spark infers") {
    // outbound_push's nested document stage (Sinks.stageOut)
    val stage = scratch("outbound")
    val pushed = CacheScope.scoped {
      val r = Outbound.push(spark, sf, stage)
      assert(r.report.ok, s"reconcile report not clean: ${r.report}")
      r.docs.schema
    }
    assert(pushed.exists(_.dataType.isInstanceOf[StructType]) ||
      pushed.exists(_.dataType.isInstanceOf[ArrayType]), pushed.treeString)
    assert(pushed == raw(stage).schema)

    // every type the engine stages, non-nullable and nested included
    val mixed = spark.range(20).select(
      col("id"), col("id").cast("int").as("i"), lit(1.5).as("d"),
      col("id").cast("decimal(12,2)").as("dec"),
      timestamp_micros(col("id")).as("ts"),
      timestamp_micros(col("id")).cast(TimestampNTZType).as("ntz"),
      current_date().as("day"), col("id").cast("string").cast("binary").as("bin"),
      array(struct(col("id").as("a"), lit("x").as("b"))).as("arr"),
      map(col("id").cast("string"), col("id")).as("m"),
      struct(col("id").as("k"), struct(lit(null).cast("string").as("n")).as("inner"))
        .as("doc"))
    assert(mixed.schema.exists(!_.nullable))
    val mixedPath = scratch("mixed")
    assert(Sinks.stageOut(spark, mixed, mixedPath).schema == raw(mixedPath).schema)

    // q_s2's partitioned read-back (status codes: strings that parse
    // back as strings)
    val parted = scratch("q_s2")
    val src = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    Sinks.writePartitioned(src, parted, Seq("o_orderstatus"))
    assert(Tables.readAs(spark, Sinks.partitionedSchema(src.schema, Seq("o_orderstatus")),
      parted).schema == raw(parted).schema)
  }

  for (q <- Seq("q_s2_partitioned_sink", "q_skip_pruned_scan", "q_s2_sink_roundtrip",
      "q_s2_compact_sink", "q_s14_file_provenance", "q_s5_outbound_sampled",
      "q_doc_assembly_nested", "q_outbound_push", "q_j1_star_decode"))
    test(s"$q: every parquet relation reads with the schema a raw read infers") {
      val df = CacheScope.scoped(SparkEntry.queries(q)(spark, sf))
      val rels = relations(df)
      assert(rels.nonEmpty, s"$q has no parquet relation")
      rels.foreach { case (paths, schema) =>
        assert(schema == raw(paths: _*).schema, s"$q: relation over ${paths.mkString(",")}")
      }
      assert(df.count() > 0)
    }

  test("a second read of an unchanged file set starts no Spark job") {
    val p = scratch("unchanged")
    spark.range(100).toDF("a").write.mode("overwrite").parquet(p)
    val first = JobLedger.during(spark.sparkContext)(Tables.read(spark, p))
    assert(first.count(_.schemaInference) == 1, first)
    assert(first.head.site.startsWith("graft.sources.Tables$"), first)
    val again = JobLedger.during(spark.sparkContext) {
      Tables.read(spark, p)
      Tables.read(spark, p)
    }
    assert(again.isEmpty, again)
    // the ledger's classifier sees the raw read's job as an inference job
    val rawJobs = JobLedger.during(spark.sparkContext)(raw(p))
    assert(rawJobs.size == 1 && rawJobs.head.schemaInference, rawJobs)
  }

  test("an overwrite with a new schema infers again") {
    val p = scratch("overwrite")
    spark.range(10).toDF("a").write.mode("overwrite").parquet(p)
    assert(Tables.read(spark, p).schema.fieldNames.toSeq == Seq("a"))
    spark.range(10).select(col("id").cast("string").as("b"), col("id").as("c"))
      .write.mode("overwrite").parquet(p)
    var df: DataFrame = null
    val jobs = JobLedger.during(spark.sparkContext) { df = Tables.read(spark, p) }
    assert(jobs.count(_.schemaInference) == 1, jobs)
    assert(df.schema == raw(p).schema)
    assert(df.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(df.where(col("c") === 3L).select("b").head().getString(0) == "3")
  }

  test("a flipped binaryAsString infers again") {
    val p = scratch("bare_binary/names.parquet")
    writeBare(p, "message n { required int64 id; required binary name; }")(
      Seq(Seq("id" -> 1L, "name" -> "a"), Seq("id" -> 2L, "name" -> "b")))
    val key = "spark.sql.parquet.binaryAsString"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.read(spark, p).schema("name").dataType == BinaryType)
      spark.conf.set(key, "true")
      val jobs = JobLedger.during(spark.sparkContext) {
        assert(Tables.read(spark, p).schema("name").dataType == StringType)
      }
      assert(jobs.count(_.schemaInference) == 1, jobs)
      spark.conf.set(key, "false")
      assert(Tables.read(spark, p).schema("name").dataType == BinaryType)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a missing path raises the same error as the raw read") {
    def sameError(path: String): Unit = {
      val rawErr = intercept[AnalysisException](raw(path))
      val ours = intercept[AnalysisException](Tables.read(spark, path))
      assert(ours.getCondition == rawErr.getCondition)
      assert(ours.getMessage == rawErr.getMessage)
    }
    sameError(scratch(s"never_written_${System.nanoTime}"))
    // a file set read once (so remembered) and then removed
    val gone = scratch("removed")
    spark.range(3).toDF("a").write.mode("overwrite").parquet(gone)
    Tables.read(spark, gone)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(gone))
    sameError(gone)
  }

  /** Raw parquet reads in `src/main` outside `Tables.scala`, with the
    * reason each allowed one has. */
  private val allowed = Map(
    ("SourceQueries.scala", "mergeSchema") ->
      ("q_s10_schema_merge shows Spark's schema merge: it reads two batches " +
        "written just before with different columns, so the read must infer " +
        "(and merge) their footers; the batches are rewritten every run, so a " +
        "remembered schema would never be reused"))

  private val rawRead =
    """\.read\s*(\.\s*(option|options|schema)\s*\([^)]*\)\s*)*\.\s*(parquet\s*\(|format\s*\(\s*"parquet"\s*\))""".r

  test("no file in src/main outside Tables reads parquet on its own") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Tables.scala").toList.sorted
    val hits = for {
      p <- files
      text = new String(Files.readAllBytes(p), "UTF-8")
      m <- rawRead.findAllMatchIn(text)
    } yield (p, text.take(m.start).count(_ == '\n') + 1, m.matched)
    val (ok, bad) = hits.partition { case (p, _, matched) =>
      allowed.keys.exists { case (f, what) =>
        p.getFileName.toString == f && matched.contains(what) }
    }
    if (bad.nonEmpty) fail(s"${bad.size} raw parquet reads outside Tables:\n" +
      bad.map { case (p, line, m) => s"$p:$line: ${m.replaceAll("\\s+", " ")}" }.mkString("\n"))
    // every allow-list entry still names a real read, and says why
    assert(ok.size == allowed.size, ok)
    assert(allowed.values.forall(_.length > 40))
  }

  test("a warm etl pass and a warm curation pass start no schema-inference job") {
    val out = scratch("pass_out")
    val etl: Seq[(String, () => DataFrame)] =
      ("outbound_push" -> (() => Outbound.push(spark, sf, scratch("pass_stage")).docs)) +:
        Seq("q_j1_star_decode", "q_repair_ladder", "q_s2_partitioned_sink",
          "q_skip_pruned_scan", "q_f5_case_ladder", "q_stream_transform_state")
          .map(q => q -> (() => SparkEntry.queries(q)(spark, sf)))
    val curation: Seq[(String, () => DataFrame)] =
      Seq("q_flagship_curation" -> (() => Flagship.curationPipeline(spark, sf)))
    def pass(jobs: Seq[(String, () => DataFrame)]): Unit = jobs.foreach { case (name, plan) =>
      CacheScope.scoped(plan().write.mode("overwrite").parquet(s"$out/$name"))
      spark.catalog.clearCache()
    }
    for ((workload, jobs) <- Seq("etl" -> etl, "curation" -> curation)) {
      pass(jobs) // warm-up: the first read of each input infers
      val ledger = JobLedger.during(spark.sparkContext)(pass(jobs))
      val inference = ledger.filter(_.schemaInference)
      info(s"$workload warm pass: ${ledger.size} Spark jobs, " +
        s"${inference.size} schema inference; by site: " +
        JobLedger.bySite(ledger).take(8).map { case (s, n) => s"$n $s" }.mkString(", "))
      assert(inference.isEmpty, JobLedger.bySite(inference))
    }
  }
}
