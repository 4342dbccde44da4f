package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational-parity surface the reference's SQL dialect implies but no
  * earlier round registered explicitly: FULL OUTER join, explicit
  * semi/anti flagging, correlated scalar subqueries, and LATERAL
  * per-group top-k. All four decorrelate/plan to shuffle-or-broadcast
  * hash machinery under Catalyst — none degenerates to a nested loop —
  * and each is hash-checked against a DuckDB twin.
  */
object RelationalQueries {

  /** J9: FULL OUTER join with unmatched rows on BOTH sides (filtered
    * customer vs filtered orders). At scale this is the canonical
    * sort-merge full-outer: both sides shuffle once on the key; no
    * broadcast is possible for full-outer in Spark, and none is wanted —
    * both sides are fact-sized. Null-padded sides are part of the hash
    * contract. */
  private val fullOuter = Q("q_j9_full_outer",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 150000)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
    },
    """
      SELECT c_custkey, c_name, c_acctbal, o_custkey, o_orderkey,
        o_totalprice
      FROM (SELECT c_custkey, c_name, c_acctbal FROM customer
            WHERE c_acctbal > 5000) c
      FULL JOIN (SELECT o_custkey, o_orderkey, o_totalprice FROM orders
                 WHERE o_totalprice > 150000) o
        ON c_custkey = o_custkey""")

  /** J10: explicit left-semi / left-anti pair, surfaced as one flagged
    * relation: every customer tagged by whether they have at least one
    * URGENT open order. Semi/anti never duplicate the left side (no
    * fact blow-up on hot keys) and the probe side is aggregated to
    * distinct keys before the join — at 100 TB the right side shrinks
    * to |distinct keys| before any shuffle. */
  private val semiAnti = Q("q_j10_semi_anti",
    (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val urgent = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderstatus") === "O")
        .select(col("o_custkey"))
        .distinct() // shrink the probe side to |distinct keys| pre-shuffle
      val has = c.join(urgent, col("c_custkey") === col("o_custkey"),
        "left_semi").withColumn("has_urgent_open", lit(true))
      val not = c.join(urgent, col("c_custkey") === col("o_custkey"),
        "left_anti").withColumn("has_urgent_open", lit(false))
      has.unionByName(not)
    },
    """
      SELECT c_custkey, c_mktsegment, EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderpriority = '1-URGENT' AND o_orderstatus = 'O')
        AS has_urgent_open
      FROM customer""")

  /** Correlated scalar subquery: each customer against their nation's
    * average balance. Catalyst decorrelates this into one aggregate over
    * customer (25 nation rows) broadcast-joined back — the scale-correct
    * plan; the subquery never re-executes per row. */
  private val scalarCorr = Q("q_sub_scalar_corr",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_custkey, c_nationkey, c_acctbal,
          (SELECT round(avg(c2.c_acctbal), 6) FROM customer c2
           WHERE c2.c_nationkey = c1.c_nationkey) AS nation_avg,
          c_acctbal > (SELECT avg(c3.c_acctbal) FROM customer c3
                       WHERE c3.c_nationkey = c1.c_nationkey) AS above_avg
        FROM customer c1""")
    },
    """
      SELECT c_custkey, c_nationkey, c_acctbal,
        (SELECT round(avg(c2.c_acctbal), 6) FROM customer c2
         WHERE c2.c_nationkey = c1.c_nationkey) AS nation_avg,
        c_acctbal > (SELECT avg(c3.c_acctbal) FROM customer c3
                     WHERE c3.c_nationkey = c1.c_nationkey) AS above_avg
      FROM customer c1""")

  /** LATERAL correlated subquery with ORDER BY + LIMIT: top-2 orders per
    * customer, the per-group-top-k idiom in its SQL spelling. Spark
    * rewrites the correlated LIMIT into a ranked window under the hood
    * (one shuffle on the correlation key), so this scales exactly like
    * `TopK.topKPerKey` — the DuckDB twin uses the explicit row_number
    * form, which is the same relation. */
  private val lateralTopK = Q("q_lateral_topk",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_custkey, c_mktsegment, t.o_orderkey, t.o_totalprice
        FROM customer,
          LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                   WHERE o_custkey = c_custkey
                   ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""")
    },
    """
      WITH r AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
      FROM customer JOIN r ON o_custkey = c_custkey
      WHERE rn <= 2""")

  /** J11: null-safe equality join (`<=>` / IS NOT DISTINCT FROM). Open
    * orders carry a NULL channel; a plain equi-join silently drops them,
    * the null-safe key matches them to the dim's NULL row. EqualNullSafe
    * is still a hashable key (coalesce-tagged), so Catalyst plans a
    * broadcast hash join — null-safety costs no plan quality. */
  private val nullSafeJoin = Q("q_j11_null_safe_join",
    (s, dir) => {
      val o = Tables.load(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_orderstatus") === "O", lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("prio"))
      val dim = o.select(col("prio").as("d_prio")).distinct()
        .withColumn("prio_code",
          concat(lit("P_"), coalesce(col("d_prio"), lit("UNSET"))))
      o.join(broadcast(dim), col("prio") <=> col("d_prio"))
        .select(col("o_orderkey"), col("prio"), col("prio_code"))
    },
    """
      WITH o AS (SELECT o_orderkey,
          CASE WHEN o_orderstatus = 'O' THEN NULL
               ELSE o_orderpriority END AS prio
        FROM orders),
      dim AS (SELECT DISTINCT prio,
          'P_' || coalesce(prio, 'UNSET') AS prio_code FROM o)
      SELECT o.o_orderkey, o.prio, dim.prio_code
      FROM o JOIN dim ON o.prio IS NOT DISTINCT FROM dim.prio""")

  val all: Seq[Q] = Seq(fullOuter, semiAnti, scalarCorr, lateralTopK,
    nullSafeJoin)
}
