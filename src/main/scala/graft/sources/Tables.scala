package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table catalog over the generated parquet test tables, and the
  * engine's one parquet reader.
  *
  * Mirrors the reference's source layer (SURVEY.md §2a): Glue-catalog
  * parquet tables read with catalogued schemas and snapshot predicates
  * (reference `FULL:205-211` et al.). Here the "catalog" is a directory of
  * parquet files, and this object plays the crawler's part
  * (`FULL:106-141`): the crawler records a table's schema once and every
  * job reads with it; [[read]] infers a file set's schema once per
  * session and later reads of the unchanged set pass that schema to
  * Spark. Spark infers a parquet schema with a Spark job (footer reads
  * shipped to executors) on every read that names no schema; a
  * remembered schema makes the read a file listing only.
  *
  * The memo ([[read]]) is per session. Its slot is the paths as given
  * plus the session's parquet-inference confs ([[InferenceConfs]]); the
  * slot holds the schema Spark inferred and the listing it inferred it
  * from, `(path, length, mtime)` of every file the relation's own
  * `FileIndex` listed. A later read lists through Spark as before and
  * uses the remembered schema only if that listing is the same; a new,
  * rewritten (part files carry a per-write UUID) or removed file, or a
  * changed conf, infers again. [[readAs]] is the read with a schema the
  * caller already holds: what the engine's own stages were just written
  * with (`Sinks.stageOut`, `DataSkipping`), which `ReaderSpec` checks
  * against Spark's inference. `ReaderSpec` also fails on a parquet read
  * in `src/main` outside this file.
  *
  * Scale posture: parquet scans are the only leaf; filters/projections
  * written adjacent to the scan reach the reader via Catalyst pushdown, so
  * every helper returns a plain lazy DataFrame (never collects).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Fold any physical encoding of an event-time column to session-zone
    * `TimestampType`, keyed on the LOGICAL type Spark read it as — never
    * on one assumed parquet layout. Upstream files at 100 TB mix
    * encodings (the round-8 fixture churn proved it locally: the same
    * table flipped from TIMESTAMP(NANOS) to micros-NTZ between runs), so
    * the engine absorbs all of them here and consumers only ever see a
    * real timestamp:
    *  - `LongType`  → raw nanos (TIMESTAMP(NANOS) read under
    *    `spark.sql.legacy.parquet.nanosAsLong=true`): integer `DIV 1000`
    *    to micros, not `/` — double division loses ulps above 2^53 and
    *    shifts timestamps by ±1 µs;
    *  - `TimestampNTZType` — wall-clock micros: reinterpreted in the
    *    session zone (UTC per GraftSession), which preserves the stored
    *    field values exactly;
    *  - `TimestampType` — already canonical, untouched. */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case LongType if f.name == colName =>
          d.withColumn(colName, timestamp_micros(expr(s"`$colName` DIV 1000")))
        case TimestampNTZType if f.name == colName =>
          d.withColumn(colName, to_timestamp_ltz(col(colName)))
        case _ => d
      }
    }
  }

  /** S1: catalog table scan. Column pruning + predicate pushdown are left
    * to Catalyst — callers chain `.select`/`.where` directly. Event-time
    * columns are folded to TimestampType whatever the file encoding
    * (see [[normalizeTs]]). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(read(spark, path(dir, name)))

  /** The session confs a parquet schema inference reads: a read under
    * other values may infer another schema (nanos as long or timestamp,
    * binary as string, INT96 as timestamp, NTZ, merged or first-file
    * schema, summary files, typed or string partition values, skipped
    * files, column-name case, partition timestamps' zone). */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.files.ignoreMissingFiles",
    "spark.sql.caseSensitive",
    "spark.sql.session.timeZone")

  private final case class Slot(paths: Seq[String], confs: Seq[Option[String]])
  private final case class Inferred(listing: Seq[(String, Long, Long)],
      schema: StructType)

  // one memo per session, dropped with it; the session map's lock is
  // held only to find a memo, never over a read
  private val memos = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Slot, Inferred]]())

  /** The files the read's relation listed, as `(path, length, mtime)`
    * sorted by path: the relation's `FileIndex` listed them when the
    * read resolved, so this lists nothing again. `None` for a relation
    * without a file listing, which is never remembered. */
  private def listing(df: DataFrame): Option[Seq[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect {
      case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
        index.allFiles()
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .sortBy(_._1)
    }

  /** The engine's parquet read of `paths`: `spark.read.parquet(paths)`
    * with the schema inferred once per unchanged file set (see the
    * object doc for the memo's slot and when it infers again). The
    * frame, its schema and its plan are the raw read's; a path that
    * does not exist throws what the raw read throws. */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val memo = memos.computeIfAbsent(spark, _ => new ConcurrentHashMap[Slot, Inferred]())
    val slot = Slot(paths.toVector, InferenceConfs.map(spark.conf.getOption))
    Option(memo.get(slot))
      .map(m => (m, spark.read.schema(m.schema).parquet(paths: _*)))
      .collect { case (m, df) if listing(df).contains(m.listing) => df }
      .getOrElse {
        val df = spark.read.parquet(paths: _*)
        listing(df).foreach(files => memo.put(slot, Inferred(files, df.schema)))
        df
      }
  }

  /** A parquet read of `paths` with a schema the caller holds, which
    * starts no Spark job: the schema a stage was just written with
    * ([[Sinks.stageOut]]), or a schema read from a superset of the same
    * write (`DataSkipping.prunedRead`). Spark makes every field of a
    * file read nullable whatever the schema given, as it does for an
    * inferred one. Unlike the raw read, an empty file set reads as an
    * empty frame instead of failing to infer. */
  def readAs(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read.schema(schema).parquet(paths: _*)

  /** Register every table as a temp view so SQL-in-string queries (the
    * reference's dominant style, `FULL:331-476`) work unchanged. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

/** Sinks: parquet overwrite with Hive-style partition dirs (S2,
  * `FULL:72,1450`) and the stage-out/re-read lineage cut (S3,
  * `PUSH:227-229`).
  */
object Sinks {
  /** S2: partitioned overwrite. `partitionBy` produces
    * `dataset_date=.../` directories exactly like the reference's manual
    * path construction; dynamic overwrite keeps other partitions intact
    * so a re-run of one snapshot is idempotent at 100 TB. */
  def writePartitioned(df: DataFrame, target: String,
      partitionCols: Seq[String]): Unit = {
    val w = df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(target)
  }

  /** The schema a parquet read of a [[writePartitioned]] target infers:
    * the data columns, then the partition columns, each with its written
    * type. Partition values are read back from directory names, so this
    * holds only where every partition column's values parse back to its
    * type (strings that read as no number or date, as
    * `q_s2_partitioned_sink`'s status codes do; `ReaderSpec` checks it). */
  def partitionedSchema(schema: StructType, partitionCols: Seq[String]): StructType =
    StructType(schema.filterNot(f => partitionCols.contains(f.name)) ++
      partitionCols.map(schema(_)))

  /** S3: deliberate lineage cut — write a stage then re-read it
    * (`PUSH:227-229`). On a cluster this bounds the logical plan and lets
    * AQE re-plan downstream with real statistics. The re-read takes the
    * schema the stage was written with (`Tables.readAs`), which is what
    * Spark would infer from the files (`ReaderSpec`, nested documents
    * included), without the inference job. */
  def stageOut(spark: SparkSession, df: DataFrame, stagePath: String): DataFrame = {
    df.write.mode("overwrite").parquet(stagePath)
    Tables.readAs(spark, df.schema, stagePath)
  }

  /** Size-managed write: range-partition on a sort key, sort within
    * partitions, and cap rows per file. This is the small-file /
    * giant-file defense at 100 TB — `repartitionByRange` gives each task
    * a contiguous, similar-sized key range (so file sizes stay uniform
    * even under key skew) and `maxRecordsPerFile` splits any task that
    * still exceeds the cap; the in-file sort keeps min/max stats tight
    * for scan pruning. */
  def compactWrite(df: DataFrame, target: String,
      sortKey: org.apache.spark.sql.Column, nPartitions: Int,
      maxRecordsPerFile: Long): Unit =
    df.repartitionByRange(nPartitions, sortKey)
      .sortWithinPartitions(sortKey)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(target)
}
