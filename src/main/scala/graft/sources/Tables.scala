package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table catalog over the driver-generated parquet test tables.
  *
  * Mirrors the reference's source layer (SURVEY.md §2a): Glue-catalog
  * parquet tables read with inferred schemas and snapshot predicates
  * (reference `FULL:205-211` et al.). Here the "catalog" is a directory of
  * parquet files; schema inference on read replaces the crawler
  * (`FULL:106-141`).
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
    normalizeTs(spark.read.parquet(path(dir, name)))

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

  /** S3: deliberate lineage cut — write a stage then re-read it
    * (`PUSH:227-229`). On a cluster this bounds the logical plan and lets
    * AQE re-plan downstream with real statistics. */
  def stageOut(spark: SparkSession, df: DataFrame, stagePath: String): DataFrame = {
    df.write.mode("overwrite").parquet(stagePath)
    spark.read.parquet(stagePath)
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
