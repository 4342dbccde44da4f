package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** J3 — the disjunctive/theta left join (SURVEY.md §2c).
  *
  * The reference joins dealermaster with an OR in the ON clause:
  * `on dm.k = f.a or dm.k = f.b and dm.j = f.c` (`FULL:747-751` ×8) —
  * note SQL precedence: `a OR (b AND c)`. Spark plans this as a
  * BroadcastNestedLoopJoin (hence the reference enabling
  * `spark.sql.crossJoin.enabled`, `FULL:39`), which is O(|L|·|R|) work —
  * fine for a broadcastable dim, catastrophic if both sides are big.
  *
  * `orJoinExact` is the scale path: each disjunct is an equi-join
  * (shuffle-hash/broadcast-hash, pushdown-friendly) over a disjoint split
  * of the condition space, so a pair matched by several disjuncts appears
  * once, exactly like the OR-join; unmatched left rows are restored by
  * anti joins — semantics identical to the nested-loop LEFT OR-join,
  * cost linear in data size, no key-uniqueness assumption.
  */
object DisjunctiveJoin {

  /** Verbatim form: left join with an arbitrary boolean ON. Catalyst
    * plans BNLJ when no equi-conjunct exists. Keep the right side
    * broadcastable. */
  def orJoin(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(broadcast(right), cond, "left")

  /** Size-dispatched form — the production entry point. The verbatim
    * BNLJ is only safe while the dim broadcasts; past the threshold it
    * means executor OOM (forced broadcast) or an O(|L|·|R|) loop. Route
    * on the optimizer's size estimate for the dim side: within
    * `spark.sql.autoBroadcastJoinThreshold` → verbatim broadcast OR-join
    * (cheapest plan, one pass); above it, or with broadcasting disabled
    * (threshold -1) → the exact OR-expansion, which is hash joins at any
    * cardinality. Both branches produce identical results (the shared
    * J3 oracle proves it), so the dispatch is a pure plan choice. */
  def orJoinAuto(left: DataFrame, right: DataFrame,
      disjuncts: Seq[(DataFrame, DataFrame) => Column]): DataFrame = {
    require(disjuncts.nonEmpty, "OR-join needs at least one disjunct")
    val threshold = BigInt(SQLConf.get.autoBroadcastJoinThreshold)
    val dimBytes = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (threshold > 0 && dimBytes <= threshold)
      orJoin(left, right, disjuncts.map(d => d(left, right)).reduce(_ || _))
    else orJoinExact(left, right, disjuncts)
  }

  /** Exact multiset rewrite — no key-uniqueness assumption.
    *
    * OR-expansion by disjoint split: a (left-outer) OR-join pairs each
    * left row with every right row satisfying ANY disjunct, once. Split
    * the condition space disjointly — branch i joins on
    * `di AND NOT(d1) AND … AND NOT(d(i-1))` — and every matching pair
    * lands in exactly one branch. Each branch still carries its
    * equi-conjunct, so Catalyst plans hash joins with residual filters.
    * Unmatched left rows (LeftOuter) are recovered by a chain of hash
    * ANTI joins (anti over d1-matches, then over d2-matches, …), padded
    * with nulls. Every operator in the rewrite is an equi-join: the
    * nested loop is gone at any cardinality.
    */
  def orJoinExact(left: DataFrame, right: DataFrame,
      disjuncts: Seq[(DataFrame, DataFrame) => Column]): DataFrame = {
    require(disjuncts.nonEmpty, "OR-expansion needs at least one disjunct")
    require(left.columns.intersect(right.columns).isEmpty,
      "orJoinExact requires disjoint column names between sides")
    val leftCols = left.columns.toSeq
    val rightCols = right.columns.toSeq
    val outCols = leftCols ++ rightCols
    // matched pairs, disjointly: d_i AND NOT d_1 .. NOT d_{i-1}
    val branches = disjuncts.zipWithIndex.map { case (_, i) =>
      val l = left.alias("l")
      val r = right.alias("r")
      val cond = disjuncts.zipWithIndex.map { case (d, j) =>
        val c = d(l, r)
        if (j < i) !coalesce(c, lit(false)) else if (j == i) c else lit(true)
      }.take(i + 1).reduce(_ && _)
      l.join(r, cond, "inner").select(
        leftCols.map(c => col(s"l.$c")) ++ rightCols.map(c => col(s"r.$c")): _*)
    }
    val matched = branches.reduce(_ unionByName _)
    // unmatched left rows: anti join per disjunct, chained (all hash antis)
    val unmatched = disjuncts.foldLeft(left) { (acc, d) =>
      val l = acc.alias("l")
      val r = right.alias("r")
      l.join(r, d(l, r), "left_anti")
    }
    val padded = rightCols.foldLeft(unmatched) { (d, c) =>
      d.withColumn(c, lit(null).cast(right.schema(c).dataType))
    }
    matched.unionByName(padded.select(outCols.map(col): _*))
  }
}
