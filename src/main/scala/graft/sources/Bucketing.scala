package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed co-located joins: both sides pre-hashed into the same bucket
  * layout on the join key, so the join runs with NO shuffle of either
  * side — at 100 TB this is the difference between a join that moves
  * the fact table over the network every run and one that never does.
  * Locally the bucket layout lives in Spark's session catalog as
  * external parquet tables.
  */
object Bucketing {

  private val stageSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Stage `df` as a bucketed, per-bucket-SORTED external table and
    * return its scan — the shuffle-once layout for frames that feed
    * MULTIPLE downstream joins on the same key (the capped-pair verify
    * side joins the per-doc hash-set frame twice, once per pair
    * endpoint; the incremental-dedup band index is probed by every
    * batch). One hash shuffle at write time buys every later join a
    * scan that already satisfies the join's clustering — no broadcast
    * ceiling, no re-shuffle, no external sort of this side, at any
    * frame size.
    *
    * `repartition(buckets, keys)` before the write is load-bearing:
    * repartition's HashPartitioning uses the same murmur3-pmod hash as
    * the bucket-id assignment, so each write task holds exactly one
    * bucket and emits ONE file — and Spark only exposes a bucketed
    * scan's per-bucket sort order (skipping the join-side SortExec)
    * when a bucket is a single file.
    *
    * The table name and path are unique per (JVM, call): concurrent
    * sessions in separate processes can never clobber each other's
    * stage (the r13 fixed-path hazard), and repeated constructions in
    * one session never overwrite a stage an earlier plan still reads.
    * Cleanup rides [[graft.CacheScope.defer]]: inside a `scoped` block
    * the table is dropped and its files deleted at scope exit. The
    * path is a [[Stage.work]] dir, so a stage made with no scope active
    * lives for the session and its files are deleted at JVM exit. */
  def stageBucketed(df: DataFrame, tag: String, buckets: Int,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "stageBucketed needs at least one bucket key")
    val spark = df.sparkSession
    // identifier-safe: an unquoted saveAsTable name parses '.' as a
    // schema separator (a tag derived from "sf0.1" would otherwise
    // resolve to schema graft_stage_..._sf0, which doesn't exist)
    val safeTag = tag.replaceAll("[^A-Za-z0-9_]", "_")
    val n = stageSeq.incrementAndGet()
    val table = s"graft_stage_${safeTag}_p${ProcessHandle.current().pid()}_$n"
    val path = Stage.work("bucketed", s"${safeTag}_$n")
    df.repartition(buckets, keys.map(col): _*)
      .write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
    graft.CacheScope.defer { () =>
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      ()
    }
    spark.table(table)
  }

  /** orders ⋈ lineitem on the order key via matching bucket layouts,
    * both staged through [[stageBucketed]]; the sort-merge join consumes
    * bucket-local sorted data directly (no Exchange on either side —
    * asserted in BucketingSpec — and, one file per bucket, no Sort). */
  def coLocatedOrderJoin(spark: SparkSession, dir: String): DataFrame =
    stageBucketed(Tables.load(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice"),
      "b_orders", 8, Seq("o_orderkey"))
      .hint("merge") // force SMJ so the bucket layout (not a broadcast) carries the join
      .join(stageBucketed(Tables.load(spark, dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice"),
        "b_lineitem", 8, Seq("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "inner")
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"),
        max(col("o_totalprice")).as("total_price"))
}
