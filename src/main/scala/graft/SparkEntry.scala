package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry

/** Driver contract — see SURVEY.md §7.
  * All queries live in `graft.queries.Registry`, each paired with its
  * DuckDB oracle so the two can't drift apart.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Composes BOTH flagship paths end-to-end: the reference's
    * main-pipeline shape (SURVEY.md §3 EP1: decode star → recodes →
    * repair ladder → surrogate key → nested document) and the 100 TB
    * curation flagship (capped containment → LSH/CC → SemDeDup with
    * two-level-capable assignment → distilled gate → packing), whose
    * one-row summary is broadcast-stamped onto every outbound document
    * — the idiomatic scalar-attach, so the curation path executes
    * inside the returned frame, not beside it. */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val prospects = Flagship.prospectPipeline(spark, dir)
    val audit = Flagship.curationPipeline(spark, dir)
      .agg(count(lit(1)).as("curatedDocs"),
        coalesce(sum(col("n_seqs")), lit(0L)).as("packedSeqs"))
    prospects.crossJoin(broadcast(audit))
      .withColumn("corpusAudit",
        struct(col("curatedDocs"), col("packedSeqs")))
      .drop("curatedDocs", "packedSeqs")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every registered query has one: nested
    * and streaming outputs are materialized and flattened/reduced to a
    * hashable projection inside the query itself. */
  def oracleSql: Map[String, String] =
    Registry.all.map(q => q.name -> q.oracle.trim).toMap
}
