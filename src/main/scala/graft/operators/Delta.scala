package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental/delta + reconciliation layer (SURVEY.md §2b P9, §2g U2, §5).
  */
object Delta {

  /** P9/J7: "only new keys" delta — the reference writes
    * `leadid not in (select coalesce(leadid,'') from tgt)` (`PUSH:214`),
    * pre-coalescing the TARGET side to dodge NOT IN's null poisoning
    * (one NULL in the subquery makes NOT IN never-true). The source side
    * is NOT coalesced, so three-valued logic still applies to it: a NULL
    * src key yields `NULL NOT IN (…)` = NULL and the row is dropped. The
    * faithful-and-scalable form is therefore a not-null filter on the src
    * key plus a left anti join against the coalesced target key set:
    * shuffles both sides on the key once (or broadcasts a small target
    * key set), no correlated subquery.
    *
    * Known divergence, by choice: when the TARGET is EMPTY, SQL
    * `x NOT IN (empty)` is TRUE for every row including NULL x, so the
    * reference would keep NULL-key rows on a first run against an empty
    * collection; this form drops them unconditionally. A delta keyed on
    * NULL is never re-identifiable on the next run (NULL keys can't match
    * the target either), so dropping is the stable semantics — callers
    * that must ingest keyless rows on bootstrap should union them in
    * explicitly rather than depend on the empty-target edge. */
  def newKeysOnly(src: DataFrame, tgt: DataFrame, srcKey: String,
      tgtKey: String, nullSentinel: Column = lit("")): DataFrame = {
    require(src.schema(srcKey).dataType == tgt.schema(tgtKey).dataType,
      s"key type mismatch: $srcKey is ${src.schema(srcKey).dataType}, " +
        s"$tgtKey is ${tgt.schema(tgtKey).dataType} — the coalesce-guarded " +
        "anti join needs matching types or the sentinel comparison casts")
    val tgtKeys = tgt.select(coalesce(col(tgtKey), nullSentinel).as("__k")).distinct()
    src.filter(src(srcKey).isNotNull)
      .join(tgtKeys, src(srcKey) === col("__k"), "left_anti")
  }

  /** U2 + §5: the reference's reconciliation block (`PUSH:369-457`) as a
    * utility — count equality, column-set equality, and full-data
    * symmetric MINUS both directions. */
  final case class ReconcileReport(
      srcCount: Long, tgtCount: Long,
      missingCols: Seq[String], extraCols: Seq[String],
      srcMinusTgt: Long, tgtMinusSrc: Long) {
    def ok: Boolean =
      srcCount == tgtCount && missingCols.isEmpty && extraCols.isEmpty &&
        srcMinusTgt == 0L && tgtMinusSrc == 0L
  }

  /** Both set differences and both row counts from ONE key shuffle
    * (r18, guide §1.2/§2.4): tag each side, aggregate per distinct
    * common-column row with a per-side row count, then reduce. A row
    * group with src presence and no tgt presence is exactly one
    * EXCEPT-DISTINCT row (set ops group NULLs like groupBy does, so
    * the null semantics match `except`), and the per-side row-count
    * sums are the unprojected counts (projection never changes
    * cardinality). With no common column the grouping is a global
    * aggregate: one group, present on a side iff that side has rows —
    * the one zero-column row `except` would keep. The previous form ran
    * FOUR jobs — two counts plus one aggregate-and-shuffle per MINUS
    * direction — reading each input three times. */
  private def diffStats(s: DataFrame, t: DataFrame,
      common: Seq[String]): (Long, Long, Long, Long) = {
    val tagged = s.select(common.map(col) :+ lit(0).as("__side"): _*)
      .unionByName(t.select(common.map(col) :+ lit(1).as("__side"): _*))
    val r = tagged
      .groupBy(common.map(col): _*)
      .agg(count(when(col("__side") === 0, 1)).as("__ns"),
        count(when(col("__side") === 1, 1)).as("__nt"))
      .agg(coalesce(sum(col("__ns")), lit(0L)),
        coalesce(sum(col("__nt")), lit(0L)),
        count(when(col("__ns") > 0 && col("__nt") === 0, 1)),
        count(when(col("__nt") > 0 && col("__ns") === 0, 1)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  def reconcile(src: DataFrame, tgt: DataFrame): ReconcileReport = {
    val (ns, nt, smt, tms) =
      diffStats(src, tgt, src.columns.intersect(tgt.columns).toSeq)
    ReconcileReport(
      srcCount = ns, tgtCount = nt,
      missingCols = src.columns.diff(tgt.columns).toSeq,
      extraCols = tgt.columns.diff(src.columns).toSeq,
      srcMinusTgt = smt, tgtMinusSrc = tms)
  }

  /** U2 as a DataFrame (for oracle-checked fixtures): one row per
    * direction with the MINUS cardinality (`PUSH:422-440`). Same
    * one-shuffle dataflow as [[reconcile]].
    *
    * Column contract (r19, ADVICE): resolution is BY NAME over
    * `src.columns` (the one-shuffle union tags rows and unions
    * `unionByName`), not positional like a bare `src.except(tgt)` —
    * equal-arity inputs whose columns differ in NAME throw
    * AnalysisException here instead of silently comparing
    * positionally. Every call site passes identically-named frames. */
  def symmetricMinusCounts(src: DataFrame, tgt: DataFrame): DataFrame = {
    val spark = src.sparkSession
    import spark.implicits._
    val (_, _, a, b) = diffStats(src, tgt, src.columns.toSeq)
    Seq(("src_minus_tgt", a), ("tgt_minus_src", b))
      .toDF("direction", "n").orderBy("direction")
  }

  /** Snapshot diff: derive the INSERT/UPDATE/DELETE changeset between
    * two snapshots of a keyed table — the inverse of `Merge.applyCdc`
    * (which consumes such a changeset). This is how an incremental
    * pipeline turns "yesterday's table, today's table" into the delta
    * it actually ships: one full-outer join on the key, row classified
    * by side-presence and column inequality (null-safe, so NULL→value
    * and value→NULL both count as updates). Unchanged rows drop out.
    * One shuffle per side on the key; at 100 TB both snapshots are
    * usually bucketed on the key and the join co-locates for free. */
  def snapshotDiff(old: DataFrame, current: DataFrame,
      key: String): DataFrame = {
    require(old.columns.sameElements(current.columns),
      "snapshotDiff expects identical schemas")
    val valueCols = old.columns.filterNot(_ == key).toSeq
    val o = old.select(old.columns.map(c => col(c).as(s"o_$c")).toSeq: _*)
    val n = current.select(
      current.columns.map(c => col(c).as(s"n_$c")).toSeq: _*)
    val joined = o.join(n, col(s"o_$key") === col(s"n_$key"), "full_outer")
    val changed = valueCols
      .map(c => !(col(s"o_$c") <=> col(s"n_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    joined
      .withColumn("op",
        when(col(s"o_$key").isNull, "I")
          .when(col(s"n_$key").isNull, "D")
          .when(changed, "U"))
      .filter(col("op").isNotNull)
      .select(Seq(coalesce(col(s"n_$key"), col(s"o_$key")).as(key),
        col("op")) ++
        valueCols.map(c => col(s"n_$c").as(c)): _*)
  }
}
