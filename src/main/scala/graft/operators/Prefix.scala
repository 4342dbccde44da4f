package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CacheScope

/** Global exclusive prefix sum: where each row starts in a global order,
  * weighted by a per-row measure. The surrogate key (W1, `FULL:413`) is
  * `start + 1` with measure 1, packing's token offset is `start` with
  * measure `n_tokens`, the quantile band's `percent_rank` is
  * `start / (total - 1)` with measure 1.
  *
  * The two-level scan (Blelloch 1990), no task sees the whole input:
  * range-partition on `order`, tag rows with `spark_partition_id()`, take
  * the exclusive running sum within each id, pin that with one plain cut
  * (ids are then read from stored rows, never re-derived from a second
  * range sample), collect one sum per partition, and add their exclusive
  * offsets back as a literal array indexed by the id.
  *
  * `start` depends only on the rows when `order` is a total order (end it
  * with a unique tiebreak): other range bounds move rows between
  * partitions, never past each other. NULLs sort as the columns'
  * `SortOrder` says (ascending: NULLS FIRST).
  *
  * The offsets array prints in every plan over the result, one entry per
  * range partition, so that plan text grows with the shuffle partition
  * count: at 2000 partitions with 15-digit offsets the write of the
  * result starts with a ~60,600-char plan (`PlanTextSpec`, ceiling 64 KiB).
  */
object Prefix {

  /** `df` with a `start` column — the sum of `measure` over every row
    * before it in `order` — and the sum over all rows. Eager: runs the
    * cut and the per-partition sums before it returns. */
  def apply(df: DataFrame, order: Seq[Column], measure: Column): (DataFrame, Long) = {
    require(order.nonEmpty, "prefix sum needs an order")
    require(!df.columns.contains("start"), "input already has a start column")
    val local = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cut = CacheScope.cut(df.repartitionByRange(order: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__m", measure.cast("long"))
      .withColumn("__local", coalesce(sum(col("__m")).over(local), lit(0L))))
    val sums = cut.groupBy(col("__pid")).agg(coalesce(sum(col("__m")), lit(0L)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 to sums.keys.maxOption.getOrElse(-1))
      .scanLeft(0L)((acc, pid) => acc + sums.getOrElse(pid, 0L))
    (cut.withColumn("start",
        element_at(typedLit(offsets.init), col("__pid") + 1) + col("__local"))
      .drop("__pid", "__m", "__local"),
      offsets.last)
  }
}
