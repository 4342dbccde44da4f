package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** File-level data skipping: a min/max stats manifest over a parquet
  * dataset's files, and a reader that consults it to open only the
  * files a range predicate can touch — the table-format trick (Iceberg/
  * Delta manifests, ORC/parquet footer pruning) expressed as plain
  * dataflow, and the read-side payoff of `ZOrder.clusterByZ`: clustered
  * writes make per-file ranges tight, so a selective predicate prunes
  * most files on BOTH clustered dimensions.
  *
  * The manifest build is one full scan (amortized: build once per
  * write, like a table format does at commit time); after that, pruned
  * reads list files from the manifest — a dimension-table-sized frame,
  * collected to the driver exactly like every query planner collects
  * its file list — and hand Spark only the survivors. The exact
  * predicate is re-applied after the scan, so pruning is a pure IO
  * optimization and can never change results.
  */
object DataSkipping {

  /** One row per parquet file of `data`, a parquet scan: (file, n_rows,
    * min/max of `statCol`). `input_file_name()` is the scan-time file
    * identity — stable for a written dataset, which is what a manifest
    * indexes. */
  def fileStats(data: DataFrame, statCol: String): DataFrame =
    data
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(statCol)).as("min_v"),
        max(col(statCol)).as("max_v"))

  /** Read only the files of `data` whose [min_v, max_v] intersects
    * [lo, hi], then re-apply the exact bounds. The files are read with
    * `data`'s schema: they are part of the dataset `data` scans, so no
    * inference job runs. Returns the frame plus how many files were
    * opened vs listed (the skip ratio a caller monitors). */
  def prunedRead(data: DataFrame, stats: DataFrame, statCol: String,
      lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val files = stats.select(col("file"), col("min_v"), col("max_v"))
      .collect() // manifest-sized: one row per file, as any planner holds
    val keep = files.collect {
      case r if r.getLong(2) >= lo && r.getLong(1) <= hi => r.getString(0)
    }
    val df = Tables.readAs(data.sparkSession, data.schema, keep.toSeq: _*)
      .where(col(statCol) >= lo && col(statCol) <= hi)
    (df, keep.length, files.length)
  }

  /** Convenience: pruned range scan over `data` with a manifest built on
    * the fly (callers at scale persist the manifest instead). */
  def rangeScan(data: DataFrame, statCol: String,
      lo: Long, hi: Long): DataFrame =
    prunedRead(data, fileStats(data, statCol), statCol, lo, hi)._1
}
