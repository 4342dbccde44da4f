package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Scalar-function layer (SURVEY.md §2h) — the reference's row-level
  * vocabulary re-expressed as composable `Column` helpers. Everything here
  * is built-in `org.apache.spark.sql.functions` (whole-stage codegen'd);
  * no UDFs, matching the reference which registers none (§2j).
  */
object Scalars {

  /** F13: the UTC→IST +5h30m shift idiom (`FULL:215-216`):
    * `from_unixtime(unix_timestamp(ts) + 19800)`. Kept as arithmetic — the
    * reference's semantic is a fixed offset, not a zone lookup. */
  def istShift(ts: Column): Column =
    from_unixtime(unix_timestamp(ts) + 19800).cast("timestamp")

  /** F14: `date_format` with the reference's day format (`FULL:1346-1347`). */
  def ddMMyyyy(ts: Column): Column = date_format(ts, "dd/MM/yyyy")

  /** F8: token extraction from 'a-b-c-d' codes via substring_index
    * (`FULL:720,725-726,735`). */
  def tokenPrefix(c: Column, sep: String, n: Int): Column =
    substring_index(c, sep, n)

  /** F9: typed null literal (`F.lit(None).cast("string")`, `FULL:265-266`). */
  val nullString: Column = lit(null).cast(StringType)

  /** F5: CASE-WHEN ladder from an ordered mapping — the reference's enum
    * recode workhorse (`FULL:599-624` etc.). */
  def caseLadder(src: Column, mapping: Seq[(String, String)],
      default: Column): Column =
    mapping.foldRight(default) { case ((k, v), acc) =>
      when(src === lit(k), lit(v)).otherwise(acc)
    }

  /** F4: default-fill via coalesce over a column→default map
    * (`FULL:497-500`). */
  def defaultFill(df: DataFrame, defaults: Map[String, Column]): DataFrame =
    defaults.foldLeft(df) { case (d, (c, dflt)) =>
      d.withColumn(c, coalesce(col(c), dflt))
    }

  /** P2: bulk rename via a single select (cheaper than 16 chained
    * `withColumnRenamed`, `FULL:310-325` — one projection node). */
  def renameAll(df: DataFrame, renames: Map[String, String]): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c =>
      col(c).as(renames.getOrElse(c, c))): _*)

  /** Event-time → epoch microseconds, the engine's ONE canonical
    * timestamp-to-integer conversion. Every operator that does time
    * arithmetic on `ts` (sessionize gaps, decay ages, state-store
    * payloads) goes through here, so a future change in how event time
    * is represented has exactly one place to touch. Assumes the column
    * is already session-zone TimestampType — which `Tables.normalizeTs`
    * guarantees for anything read through the source layer, whatever
    * the file's physical encoding. */
  def epochMicros(ts: Column): Column = unix_micros(ts)

  /** Deterministic 60-bit integer hash of a string, expressible in both
    * Spark and ANSI-ish SQL: first 15 hex chars of md5, base-16 decoded.
    * Used as the shingle hash for MinHash/SimHash so the DuckDB oracle can
    * reproduce it exactly (`conv` is unsigned; 60 bits fits a signed
    * long). */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
}
