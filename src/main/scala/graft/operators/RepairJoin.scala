package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The cascading null-repair join ladder — the reference's most
  * distinctive semantic (SURVEY.md §7 step 5; `FULL:738-1057`).
  *
  * Pattern: LEFT-join a fact to a dimension on a tight key; rows that
  * matched keep their dim attributes; rows that didn't are retried against
  * the same dim on a progressively looser key (5 rounds for Sales, 3 for
  * TV in the reference); survivors get literal defaults
  * (`mulcode='9967', forcode='95'`, `FULL:905-906,1025-1026`). Every
  * round's fan-out is deduplicated top-1-per-fact-key ordered by a
  * dim recency column (`sallivedate desc`, W2), and the reference
  * reunites the per-round branches by unionAll (U1).
  */
object RepairJoin {

  /** The ladder over equi-key rounds — every rung the reference runs
    * (`FULL:738-1057` joins on dealer-code/state key sets). The dedup
    * sits on the BROADCAST side: all candidate dim rows for one fact row
    * share that row's key values, so top-1-per-fact-key over the joined
    * frame equals joining a dim pre-deduplicated top-1 per round key set
    * (same ordering). Each rung is then at most 1:1 and the round
    * precedence collapses into per-column `when` chains instead of the
    * reference's filter/union branches. `OperatorsSpec` keeps the
    * branch-and-union form (a per-rung top-1 window over the joined fact,
    * split on match, unioned) as the reference and checks this one
    * against it, NULL keys and empty sides included.
    *
    * Scale posture: the fact is never shuffled, split or persisted — the
    * only shuffles are the per-round dim windows (dimension-sized), and
    * the fact flows through one broadcast join per rung inside one
    * codegen span. The branch-and-union form shuffles the fact once per
    * rung; at 100 TB that is the difference between d fact-wide
    * exchanges and zero.
    *
    * @param dedupOrder per-round top-1 ordering over the dim rows that
    *                   share a round key (reference: dim recency desc);
    *                   all `dimCols` are appended (asc) as tiebreaks, so
    *                   the order is total whenever any dim column
    *                   combination is unique per dim row
    * @param rounds     per rung, the equi pairs (factCol, dimCol),
    *                   tightest first; a fact row takes the first rung
    *                   that matches
    * @param defaults   dimCol → literal default for never-matched rows
    * @param rungGrouped rows leave grouped by the rung that repaired
    *                   them, defaults last, within each partition (a local
    *                   sort, no exchange): the layout of the reference's
    *                   per-rung union branches, in which a columnar sink
    *                   run-length encodes the constant default columns.
    *                   For a ladder whose output is written as it is
    *                   (`q_repair_ladder`); where the rows are unioned
    *                   and re-partitioned before any write (the
    *                   flagship's two ladders) the order is lost, and the
    *                   sort cost `outbound_push` 0.3–0.5 s a warm pass
    *                   (perfbench etl inputs, four cores)
    */
  def equiLadder(base: DataFrame, dim: DataFrame, dimCols: Seq[String],
      rounds: Seq[Seq[(String, String)]], dedupOrder: Seq[Column],
      defaults: Map[String, Column], rungGrouped: Boolean = false): DataFrame = {
    require(rounds.nonEmpty, "repair ladder needs at least one round")
    require(dimCols.nonEmpty, "repair ladder needs dim columns to attach")
    require(rounds.forall(_.nonEmpty), "each round needs at least one equi pair")
    require(base.columns.intersect(dimCols).isEmpty,
      s"dim columns ${base.columns.intersect(dimCols).mkString(",")} collide with base columns")
    val joined = rounds.zipWithIndex.foldLeft(base) { case (acc, (keys, i)) =>
      val dd = TopK.top1PerKey(dim, keys.map(p => col(p._2)),
          dedupOrder ++ dimCols.map(col))
        .select(keys.map { case (_, k) => col(k).as(s"__k${i}_$k") } ++
          dimCols.map(c => col(c).as(s"__d${i}_$c")) :+
          lit(true).as(s"__m$i"): _*)
      acc.join(broadcast(dd),
        keys.map { case (f, k) => acc(f) === dd(s"__k${i}_$k") }.reduce(_ && _),
        "left")
    }
    val repaired = dimCols.map { c =>
      rounds.indices.foldRight(defaults.getOrElse(c, lit(null))) { (i, els) =>
        when(col(s"__m$i"), col(s"__d${i}_$c")).otherwise(els)
      }.as(c)
    }
    val rung = coalesce(rounds.indices.map(i => when(col(s"__m$i"), lit(i))) :+
      lit(rounds.size): _*)
    (if (rungGrouped) joined.sortWithinPartitions(rung) else joined)
      .select(base.columns.map(col) ++ repaired: _*)
  }
}
