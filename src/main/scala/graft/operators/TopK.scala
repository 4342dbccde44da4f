package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window/dedup layer (SURVEY.md §2e-2f).
  *
  * W2 — top-1-per-key after fan-out joins — is the reference's canonical
  * dedup (`FULL:744-757` ×8). W1 — a global `row_number()` surrogate key
  * (`FULL:413`) — runs on [[Prefix]], never as a global window: a window
  * with no partition is a single-task sort, a non-starter at 100 TB.
  */
object TopK {

  /** W2: keep the best row per key. `orderBy` must be a total order per
    * key (include a unique tiebreak column) or results are
    * nondeterministic — the reference orders by `sallivedate desc` only;
    * we require callers to pass tiebreaks. Shuffles once on `keys`. */
  def top1PerKey(df: DataFrame, keys: Seq[Column], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Top-k generalization (k=1 reproduces the reference pattern). */
  def topKPerKey(df: DataFrame, keys: Seq[Column], orderBy: Seq[Column], k: Int): DataFrame = {
    require(k > 0, s"top-k needs k > 0, got $k")
    val w = Window.partitionBy(keys: _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** W1: `concat('PM', lpad(row_number() over (order by key), 9, '0'))`
    * (`FULL:413`) — the global row number is [[Prefix]]'s `start + 1`
    * with measure 1: range partitions, local ranks and driver-side
    * offsets, no global sort. `orderCol` must be unique for the ids to
    * depend only on the rows (the reference orders by `leadid`). */
  def surrogateKey(df: DataFrame, orderCol: Column, prefix: String = "PM",
      width: Int = 9, outCol: String = "surrogate_id"): DataFrame = {
    val (ranked, _) = Prefix(df, Seq(orderCol), lit(1L))
    ranked.withColumn(outCol,
        concat(lit(prefix), lpad((col("start") + 1).cast("string"), width, "0")))
      .drop("start")
  }
}
