package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{Sinks, Stage, Tables}
import graft.functions.Scalars
import graft.operators._

/** Parity query fixtures — one per operator family of SURVEY.md §2,
  * exercised over the FIXTURES.md role-mapping (orders≈leadbase,
  * customer≈contact_dl, supplier≈dealermaster, part≈model master,
  * nation/region≈stringmapbase). Every query has a DuckDB oracle with
  * identical column names; aggregates are computed in exact decimal and
  * cast to double at the end so both engines hash-match bit-for-bit.
  */
object ParityQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------------- S1/P7/P8
  /** S1 scan + partition-style predicate + timestamp range + IN-list
    * (`FULL:205-217`, `FULL:748`). Filters sit adjacent to the scan so
    * they push down to the parquet reader. */
  private val s1 = Q("q_s1_scan_filter",
    (s, dir) =>
      t(s, dir, "orders")
        .where(col("o_orderdate") >= to_timestamp(lit("1998-01-01 00:00:00")) &&
          col("o_orderstatus") =!= lit("P") &&
          col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority")),
    """
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND o_orderstatus <> 'P'
        AND o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')""")

  // ---------------------------------------------------------------- O2
  /** O2: deterministic bounded output (`FULL:1442` limit, `PUSH:348`
    * show(n)) — orderBy on a unique key + limit plans as a
    * TakeOrderedAndProject: per-partition top-N then a driver merge of N
    * rows per partition, never a global sort materialization. */
  private val o2Limit = Q("q_o2_limit",
    (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
    """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_orderkey LIMIT 100""")

  // ---------------------------------------------------------------- P1-P4/F9
  /** Projection shaping: select/rename/derive/drop + typed null literal
    * (`FULL:262-267,510-593`). */
  private val pShape = Q("q_p_project_shape",
    (s, dir) => {
      val c = t(s, dir, "customer")
      Scalars.renameAll(
        c.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment"),
        Map("c_custkey" -> "customer_id", "c_name" -> "customer_name"))
        .withColumn("balance_flag",
          when(col("c_acctbal") < 0, lit("NEG")).otherwise(lit("POS")))
        .withColumn("legacy_code", Scalars.nullString)
        .drop("c_mktsegment")
    },
    """
      SELECT c_custkey AS customer_id, c_name AS customer_name, c_acctbal,
        CASE WHEN c_acctbal < 0 THEN 'NEG' ELSE 'POS' END AS balance_flag,
        CAST(NULL AS VARCHAR) AS legacy_code
      FROM customer""")

  // ---------------------------------------------------------------- F1-F8
  /** Scalar string suite: concat_ws / lpad / substring / substring_index /
    * trim / coalesce (`FULL:413,720,725-726`). */
  private val fScalar = Q("q_f_scalar_suite",
    (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        concat_ws("-", col("p_brand"), col("p_type"),
          col("p_size").cast("string")).as("part_code"),
        Scalars.tokenPrefix(
          concat_ws("-", col("p_brand"), col("p_type"),
            col("p_size").cast("string")), "-", 2).as("code_prefix"),
        lpad(col("p_size").cast("string"), 5, "0").as("size_padded"),
        substring(trim(col("p_name")), 1, 8).as("name_head"),
        coalesce(col("p_brand"), lit("NOBRAND")).as("brand_filled")),
    """
      SELECT p_partkey,
        concat_ws('-', p_brand, p_type, CAST(p_size AS VARCHAR)) AS part_code,
        array_to_string((string_split(
          concat_ws('-', p_brand, p_type, CAST(p_size AS VARCHAR)), '-'))[1:2],
          '-') AS code_prefix,
        lpad(CAST(p_size AS VARCHAR), 5, '0') AS size_padded,
        substring(trim(p_name), 1, 8) AS name_head,
        coalesce(p_brand, 'NOBRAND') AS brand_filled
      FROM part""")

  // ---------------------------------------------------------------- F12-F16
  /** Datetime suite: the UTC→IST +19800s shift (`FULL:215-216`),
    * date_format (`FULL:1346-1347`), epoch seconds. String outputs keep
    * the oracle timezone-proof. */
  private val fDatetime = Q("q_f_datetime",
    (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        date_format(Scalars.istShift(col("o_orderdate")),
          "dd/MM/yyyy HH:mm:ss").as("ist_ts"),
        Scalars.ddMMyyyy(col("o_orderdate")).as("order_day")),
    """
      SELECT o_orderkey,
        CAST(epoch(date_trunc('second', o_orderdate)) AS BIGINT) AS epoch_s,
        strftime(date_trunc('second', o_orderdate) + INTERVAL 19800 SECOND,
                 '%d/%m/%Y %H:%M:%S') AS ist_ts,
        strftime(o_orderdate, '%d/%m/%Y') AS order_day
      FROM orders""")

  /** F19: the reference's commented-out math/regex intent (`FULL:483-484`,
    * rand/pow/replace) — pow and global regexp_replace are deterministic
    * and oracle-checked; rand is partition-order-dependent and excluded
    * per the SURVEY §7 non-determinism rule. */
  private val f19 = Q("q_f19_math_regex",
    (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        pow(col("p_size").cast("double"), 2.0).as("size_sq"),
        sqrt(col("p_retailprice")).as("price_sqrt"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("name_devoweled")),
    """
      SELECT p_partkey,
        pow(CAST(p_size AS DOUBLE), 2.0) AS size_sq,
        sqrt(p_retailprice) AS price_sqrt,
        regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled
      FROM part""")

  // ---------------------------------------------------------------- F20
  /** Loose cross-type equality — the SURVEY §7 implicit-cast risk,
    * finally pinned: the reference compares the SAME attribute column
    * to a string literal in one place (`'66'`, `FULL:217`) and an int
    * literal in another (`9`, `FULL:644`) and leans on engine implicit
    * casts. Spark 4 (ANSI) resolves `string_col = 9` by casting the
    * STRING side to bigint — so `'09' = 9` is TRUE (numeric equality)
    * while `'09' = '9'` is FALSE (string equality); the lpad'd key
    * column makes both cases non-vacuous on every row ending in 9. The
    * DuckDB oracle mirrors the resolution with an EXPLICIT cast — the
    * gate a regression in either engine's implicit-cast path trips.
    * Domain note: ANSI Spark THROWS on non-integral strings
    * (`'9.0' = 9` is an error where DuckDB says true), so the parity
    * surface is integral digit strings — exactly the reference's usage
    * (zero-padded code values). */
  private val f20 = Q("q_f_cross_type_eq",
    (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        lpad((col("o_orderkey") % 100).cast("string"), 2, "0").as("key_str"))
        .select(
          col("o_orderkey"), col("key_str"),
          (col("key_str") === lit("66")).as("eq_str_66"),   // FULL:217 shape
          (col("key_str") === lit(9)).as("eq_int_9"),       // FULL:644 shape
          (col("key_str") === lit("9")).as("eq_str_9")),    // the divergence
    """
      SELECT o_orderkey,
        lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') AS key_str,
        lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') = '66' AS eq_str_66,
        CAST(lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') AS BIGINT) = 9
          AS eq_int_9,
        lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') = '9' AS eq_str_9
      FROM orders""")

  // ---------------------------------------------------------------- F5
  /** CASE-WHEN recode ladders — the enum-recode workhorse
    * (`FULL:599-624`). */
  private val f5 = Q("q_f5_case_ladder",
    (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        Scalars.caseLadder(col("o_orderpriority"),
          Seq("1-URGENT" -> "DIRECT", "2-HIGH" -> "DEALER",
            "3-MEDIUM" -> "WEB"), lit("OTHER")).as("channel"),
        Scalars.caseLadder(col("o_orderstatus"),
          Seq("F" -> "CLOSED", "O" -> "OPEN"), lit("PENDING")).as("buy_sell")),
    """
      SELECT o_orderkey,
        CASE o_orderpriority WHEN '1-URGENT' THEN 'DIRECT'
          WHEN '2-HIGH' THEN 'DEALER' WHEN '3-MEDIUM' THEN 'WEB'
          ELSE 'OTHER' END AS channel,
        CASE o_orderstatus WHEN 'F' THEN 'CLOSED' WHEN 'O' THEN 'OPEN'
          ELSE 'PENDING' END AS buy_sell
      FROM orders""")

  // ---------------------------------------------------------------- J1/A4/J4
  /** The decode-join star (`FULL:331-476`): a stringmapbase-shaped dim is
    * synthesized from nation/region, distinct-deduped per attribute (A4),
    * and LEFT-joined onto the fact via broadcast — the fact never
    * shuffles. */
  private def starFact(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val customer = t(s, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_mktsegment")
    val nation = t(s, dir, "nation")
    val region = t(s, dir, "region")
    val stringmap =
      nation.select(lit("nation_name").as("attributename"),
        col("n_nationkey").cast("string").as("attributevalue"),
        col("n_name").as("value"))
      .unionByName(region.select(lit("region_name").as("attributename"),
        col("r_regionkey").cast("string").as("attributevalue"),
        col("r_name").as("value")))
    val fact = orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"), "left")
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"), "left")
      .withColumn("c_nationkey_s", col("c_nationkey").cast("string"))
      .withColumn("n_regionkey_s", col("n_regionkey").cast("string"))
    DecodeJoin.decodeStar(fact, stringmap, Seq(
      ("nation_name", "c_nationkey_s", "nation_name"),
      ("region_name", "n_regionkey_s", "region_name")))
  }

  private val starOracle = """
      WITH sm AS (
        SELECT 'nation_name' AS attributename,
               CAST(n_nationkey AS VARCHAR) AS attributevalue, n_name AS value
        FROM nation
        UNION ALL
        SELECT 'region_name', CAST(r_regionkey AS VARCHAR), r_name FROM region
      ),
      nd AS (SELECT DISTINCT attributevalue, value FROM sm WHERE attributename='nation_name'),
      rd AS (SELECT DISTINCT attributevalue, value FROM sm WHERE attributename='region_name')
      SELECT o.o_orderkey, o.o_custkey,
        nd.value AS nation_name, rd.value AS region_name,
        coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
        CASE o.o_orderpriority WHEN '1-URGENT' THEN 'DIRECT'
          WHEN '2-HIGH' THEN 'DEALER' WHEN '3-MEDIUM' THEN 'WEB'
          ELSE 'OTHER' END AS priority_class,
        o.o_totalprice
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      LEFT JOIN nd ON CAST(c.c_nationkey AS VARCHAR) = nd.attributevalue
      LEFT JOIN rd ON CAST(n.n_regionkey AS VARCHAR) = rd.attributevalue"""

  private val j1 = Q("q_j1_star_decode",
    (s, dir) =>
      starFact(s, dir).select(
        col("o_orderkey"), col("o_custkey"),
        col("nation_name"), col("region_name"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
        Scalars.caseLadder(col("o_orderpriority"),
          Seq("1-URGENT" -> "DIRECT", "2-HIGH" -> "DEALER",
            "3-MEDIUM" -> "WEB"), lit("OTHER")).as("priority_class"),
        col("o_totalprice")),
    starOracle)

  // ---------------------------------------------------------------- J2/F4
  /** DataFrame-API equi join + coalesce default fill (`FULL:487,497-500`). */
  private val j2 = Q("q_j2_api_join",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
        .select(
          col("o_orderkey"),
          coalesce(col("c_name"), lit("UNKNOWN")).as("contact_name"),
          coalesce(col("c_acctbal"), lit(0.0)).as("contact_balance"),
          col("o_totalprice"))
    },
    """
      SELECT o_orderkey,
        coalesce(c_name, 'UNKNOWN') AS contact_name,
        coalesce(c_acctbal, 0.0) AS contact_balance,
        o_totalprice
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey""")

  /** Typed Dataset surface: joinWith over case classes + compile-checked
    * projection (same values as the untyped join — shared oracle). */
  private val typed = Q("q_typed_joinwith",
    (s, dir) => TypedOps.enrich(s, dir).toDF(),
    """
      SELECT o_orderkey AS order_id, c_name AS customer_name,
        c_mktsegment AS segment, o_totalprice AS total
      FROM orders JOIN customer ON o_custkey = c_custkey""")

  // ---------------------------------------------------------------- J3/J8
  private val j3Oracle = """
      SELECT c.c_custkey,
        count(s.s_suppkey) AS n_matches,
        min(s.s_suppkey) AS best_supp
      FROM customer c
      LEFT JOIN supplier s
        ON s.s_suppkey = c.c_custkey % 150
        OR s.s_suppkey = c.c_custkey % 50 AND s.s_nationkey = c.c_nationkey
      GROUP BY c.c_custkey"""

  /** J3 verbatim: disjunctive left join with SQL OR-precedence
    * `a OR (b AND c)` (`FULL:747-751`); plans as BNLJ over a broadcast
    * dim. Aggregated to match-cardinality per fact row so fan-out
    * semantics are pinned. */
  private val j3 = Q("q_j3_disjunctive_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      DisjunctiveJoin.orJoin(c, sup,
        sup("s_suppkey") === c("c_custkey") % 150 ||
          (sup("s_suppkey") === c("c_custkey") % 50 &&
            sup("s_nationkey") === c("c_nationkey")))
        .groupBy(c("c_custkey"))
        .agg(count(col("s_suppkey")).as("n_matches"),
          min(col("s_suppkey")).as("best_supp"))
    },
    j3Oracle)

  /** J3 scale rewrite: the OR-join as a union of equi-joins (hash
    * joins, no nested loop, `orJoinExact`) — identical oracle proves the
    * rewrite. */
  private val j3r = Q("q_j3_union_rewrite",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      DisjunctiveJoin.orJoinExact(c, sup,
        Seq(
          (l, r) => r("s_suppkey") === l("c_custkey") % 150,
          (l, r) => r("s_suppkey") === l("c_custkey") % 50 &&
            r("s_nationkey") === l("c_nationkey")))
        .groupBy(col("c_custkey"))
        .agg(count(col("s_suppkey")).as("n_matches"),
          min(col("s_suppkey")).as("best_supp"))
    },
    j3Oracle)

  /** J3 exact multiset rewrite (OR-expansion by disjoint split + anti
    * chain): no key-uniqueness assumption, all hash joins — same oracle
    * as the nested-loop verbatim form. */
  private val j3e = Q("q_j3_exact_expansion",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      DisjunctiveJoin.orJoinExact(c, sup,
        Seq(
          (l, r) => r("s_suppkey") === l("c_custkey") % 150,
          (l, r) => r("s_suppkey") === l("c_custkey") % 50 &&
            r("s_nationkey") === l("c_nationkey")))
        .groupBy(col("c_custkey"))
        .agg(count(col("s_suppkey")).as("n_matches"),
          min(col("s_suppkey")).as("best_supp"))
    },
    j3Oracle)

  /** J3 production entry: size-dispatched OR-join — broadcast BNLJ while
    * the dim fits the broadcast threshold, exact OR-expansion (all hash
    * joins) when it doesn't. Same oracle as the other three forms: the
    * dispatch is a plan choice, never a semantics choice. */
  private val j3a = Q("q_j3_auto_dispatch",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      DisjunctiveJoin.orJoinAuto(c, sup,
        Seq(
          (l, r) => r("s_suppkey") === l("c_custkey") % 150,
          (l, r) => r("s_suppkey") === l("c_custkey") % 50 &&
            r("s_nationkey") === l("c_nationkey")))
        .groupBy(col("c_custkey"))
        .agg(count(col("s_suppkey")).as("n_matches"),
          min(col("s_suppkey")).as("best_supp"))
    },
    j3Oracle)

  // ---------------------------------------------------------------- J4/P7
  /** Join against a filtered, deduped dim subquery (`FULL:747-749`). */
  private val j4 = Q("q_j4_dim_distinct_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
      val dim = t(s, dir, "supplier")
        .where(col("s_acctbal") > 1000.0)
        .select("s_suppkey", "s_nationkey").distinct()
      li.join(broadcast(dim), li("l_suppkey") === dim("s_suppkey"), "left")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).as("sum_qty"))
    },
    """
      SELECT s_nationkey, count(*) AS n_items, sum(l_quantity) AS sum_qty
      FROM lineitem
      LEFT JOIN (SELECT DISTINCT s_suppkey, s_nationkey FROM supplier
                 WHERE s_acctbal > 1000.0) d
        ON l_suppkey = d.s_suppkey
      GROUP BY s_nationkey""")

  // ---------------------------------------------------------------- J6/A3
  /** Self-agg join: suffix ambiguous names, the modelDesc disambiguation
    * (`FULL:1086-1097`); plus GROUP BY + HAVING count>1 (A3). */
  private val j6 = Q("q_j6_ambiguous_suffix",
    (s, dir) => {
      val p = t(s, dir, "part")
      val dupes = p.groupBy(col("p_name")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).select(col("p_name").as("dup_name"))
      p.join(broadcast(dupes), p("p_name") === col("dup_name"), "left")
        .select(col("p_partkey"),
          when(col("dup_name").isNotNull,
            concat(col("p_name"), lit("-"), col("p_partkey").cast("string")))
            .otherwise(col("p_name")).as("model_desc"))
    },
    """
      SELECT p_partkey,
        CASE WHEN d.dup_name IS NOT NULL
          THEN p_name || '-' || CAST(p_partkey AS VARCHAR)
          ELSE p_name END AS model_desc
      FROM part
      LEFT JOIN (SELECT p_name AS dup_name FROM part GROUP BY p_name
                 HAVING count(*) > 1) d
        ON p_name = d.dup_name""")

  private val a3 = Q("q_a3_having_dupes",
    (s, dir) =>
      t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") > 1),
    """
      SELECT o_custkey, count(*) AS n_orders FROM orders
      GROUP BY o_custkey HAVING count(*) > 1""")

  // ---------------------------------------------------------------- W1
  /** W1: global surrogate key `concat('PM', lpad(row_number(),9,'0'))`
    * (`FULL:413`). `q_w1_surrogate_global` and `q_w1_surrogate_scalable`
    * run the one form, `TopK.surrogateKey` (`Prefix` offsets, no global
    * sort; the single-partition window it replaced is the reference in
    * `PrefixSpec`); both names stay, with one oracle. */
  private val w1Oracle = """
      SELECT o_orderkey,
        'PM' || lpad(CAST(row_number() OVER (ORDER BY o_orderkey) AS VARCHAR),
                     9, '0') AS prospect_id
      FROM orders"""

  private val w1 = Q("q_w1_surrogate_global",
    (s, dir) =>
      TopK.surrogateKey(
        t(s, dir, "orders").select("o_orderkey"),
        col("o_orderkey"), "PM", 9, "prospect_id"),
    w1Oracle)

  private val w1s = Q("q_w1_surrogate_scalable",
    (s, dir) =>
      TopK.surrogateKey(
        t(s, dir, "orders").select("o_orderkey"),
        col("o_orderkey"), "PM", 9, "prospect_id"),
    w1Oracle)

  // ---------------------------------------------------------------- W2/O3
  /** W2: top-1-per-key dedup, the reference's post-join pattern
    * (`FULL:744-757`), with an explicit unique tiebreak. */
  private val w2 = Q("q_w2_top1_per_key",
    (s, dir) =>
      TopK.top1PerKey(
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"),
        Seq(col("l_orderkey")),
        Seq(col("l_shipdate").desc, col("l_linenumber").desc,
          col("l_extendedprice").desc)),
    """
      SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
      FROM (SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice,
              row_number() OVER (PARTITION BY l_orderkey
                ORDER BY l_shipdate DESC, l_linenumber DESC,
                         l_extendedprice DESC) AS rn
            FROM lineitem)
      WHERE rn = 1""")

  // ---------------------------------------------------------------- U1/P6
  /** U1: split / repair / union-back (the null-repair union shape,
    * `FULL:942,1057,1061`). */
  private val u1 = Q("q_u1_union_branches",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val ok = c.filter(col("c_acctbal") >= 0)
        .select(col("c_custkey"), lit("STD").as("tier"),
          col("c_acctbal").as("balance"))
      val repaired = c.filter(col("c_acctbal") < 0)
        .select(col("c_custkey"), lit("REPAIRED").as("tier"),
          lit(0.0).as("balance"))
      ok.unionByName(repaired)
    },
    """
      SELECT c_custkey, 'STD' AS tier, c_acctbal AS balance
      FROM customer WHERE c_acctbal >= 0
      UNION ALL
      SELECT c_custkey, 'REPAIRED' AS tier, 0.0 AS balance
      FROM customer WHERE c_acctbal < 0""")

  // ---------------------------------------------------------------- U2/A2
  /** U2: symmetric MINUS reconciliation (`PUSH:420-449`). */
  private def u2Src(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").where(col("l_linestatus") === "F")
      .select("l_orderkey", "l_partkey", "l_suppkey")
  private def u2Tgt(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      .select("l_orderkey", "l_partkey", "l_suppkey")

  private val u2 = Q("q_u2_symmetric_minus",
    (s, dir) => Delta.symmetricMinusCounts(u2Src(s, dir), u2Tgt(s, dir)),
    """
      WITH src AS (SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
                   WHERE l_linestatus = 'F'),
           tgt AS (SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
                   WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
      SELECT 'src_minus_tgt' AS direction,
             (SELECT count(*) FROM (SELECT * FROM src EXCEPT SELECT * FROM tgt)) AS n
      UNION ALL
      SELECT 'tgt_minus_src',
             (SELECT count(*) FROM (SELECT * FROM tgt EXCEPT SELECT * FROM src))
      ORDER BY direction""")

  /** INTERSECT (absent from the reference; completes the set-op family
    * with U1/U2). */
  private val u3 = Q("q_u3_intersect",
    (s, dir) => u2Src(s, dir).intersect(u2Tgt(s, dir)),
    """
      SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
      WHERE l_linestatus = 'F'
      INTERSECT
      SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00'""")

  /** Multiset forms (exceptAll/intersectAll): duplicates COUNT — the
    * bag semantics U2/U3's distinct forms discard. lineitem rows repeat
    * on the 3-col projection, so the outputs genuinely differ from the
    * distinct twins. */
  private val u4 = Q("q_u4_except_all",
    (s, dir) => u2Src(s, dir).exceptAll(u2Tgt(s, dir)),
    """
      SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
      WHERE l_linestatus = 'F'
      EXCEPT ALL
      SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00'""")

  private val u5 = Q("q_u5_intersect_all",
    (s, dir) => u2Src(s, dir).intersectAll(u2Tgt(s, dir)),
    """
      SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
      WHERE l_linestatus = 'F'
      INTERSECT ALL
      SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00'""")

  // ---------------------------------------------------------------- P9/J7
  /** P9/J7: "new keys only" delta via null-safe anti join — reproduces
    * `leadid not in (select coalesce(leadid,'') …)` (`PUSH:207-215`). */
  private val p9 = Q("q_p9_notin_delta",
    (s, dir) => {
      val src = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val tgt = t(s, dir, "lineitem").where(col("l_linestatus") === "F")
      Delta.newKeysOnly(src, tgt, "o_orderkey", "l_orderkey", lit(-1L))
    },
    """
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey NOT IN
        (SELECT coalesce(l_orderkey, -1) FROM lineitem
         WHERE l_linestatus = 'F')""")

  // ---------------------------------------------------------------- ladder
  /** The cascading null-repair join ladder (`FULL:738-1057`): tight key →
    * loose key → literal defaults, W2 dedup each round. The oracle spells
    * out the reference's branch-and-union form. `o_custkey % 150` leaves
    * ~1/3 of rows unmatched by the loose key so the default rung is
    * exercised. */
  private val ladder = Q("q_repair_ladder",
    (s, dir) => {
      val orders = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val customer = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val base = orders
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"), "left")
        .select(col("o_orderkey"), (col("o_custkey") % 150).as("k1"),
          col("c_nationkey"))
      val dim = t(s, dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      RepairJoin.equiLadder(base, dim,
        dimCols = Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
        rounds = Seq(
          Seq("k1" -> "s_suppkey", "c_nationkey" -> "s_nationkey"),
          Seq("k1" -> "s_suppkey")),
        dedupOrder = Seq(col("s_acctbal").desc, col("s_suppkey")),
        defaults = Map(
          "s_suppkey" -> lit(-1L), "s_name" -> lit("DEFAULT"),
          "s_nationkey" -> lit(-1), "s_acctbal" -> lit(0.0)),
        rungGrouped = true)
    },
    """
      WITH base AS (
        SELECT o_orderkey, o_custkey % 150 AS k1, c_nationkey
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey),
      r1 AS (
        SELECT b.*, d.s_suppkey, d.s_name, d.s_nationkey, d.s_acctbal,
          row_number() OVER (PARTITION BY b.o_orderkey
            ORDER BY d.s_acctbal DESC, d.s_suppkey, b.o_orderkey) AS rn
        FROM base b LEFT JOIN supplier d
          ON d.s_suppkey = b.k1 AND d.s_nationkey = b.c_nationkey),
      m1 AS (SELECT o_orderkey, k1, c_nationkey, s_suppkey, s_name,
                    s_nationkey, s_acctbal
             FROM r1 WHERE rn = 1 AND s_suppkey IS NOT NULL),
      u1 AS (SELECT o_orderkey, k1, c_nationkey FROM r1
             WHERE rn = 1 AND s_suppkey IS NULL),
      r2 AS (
        SELECT b.*, d.s_suppkey, d.s_name, d.s_nationkey, d.s_acctbal,
          row_number() OVER (PARTITION BY b.o_orderkey
            ORDER BY d.s_acctbal DESC, d.s_suppkey, b.o_orderkey) AS rn
        FROM u1 b LEFT JOIN supplier d ON d.s_suppkey = b.k1),
      m2 AS (SELECT o_orderkey, k1, c_nationkey, s_suppkey, s_name,
                    s_nationkey, s_acctbal
             FROM r2 WHERE rn = 1 AND s_suppkey IS NOT NULL),
      u2 AS (SELECT o_orderkey, k1, c_nationkey FROM r2
             WHERE rn = 1 AND s_suppkey IS NULL)
      SELECT * FROM m1
      UNION ALL SELECT * FROM m2
      UNION ALL
      SELECT o_orderkey, k1, c_nationkey,
        CAST(-1 AS BIGINT) AS s_suppkey, 'DEFAULT' AS s_name,
        CAST(-1 AS INTEGER) AS s_nationkey, 0.0 AS s_acctbal
      FROM u2""")

  // ---------------------------------------------------------------- A1/A5
  /** Stage-count checkpoints as data (`FULL:220,230,…`; `PUSH:380-390`):
    * scalar counts collected to the driver — the reference's operational
    * smoke assertions. */
  private val a1 = Q("q_a1_stage_counts",
    (s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      Seq(
        ("orders_total", orders.count()),
        ("orders_open", orders.where(col("o_orderstatus") === "O").count()),
        ("lineitem_total", li.count()),
        ("lineitem_f", li.where(col("l_linestatus") === "F").count()))
        .toDF("metric", "n")
    },
    """
      SELECT 'orders_total' AS metric, count(*) AS n FROM orders
      UNION ALL SELECT 'orders_open', count(*) FROM orders WHERE o_orderstatus='O'
      UNION ALL SELECT 'lineitem_total', count(*) FROM lineitem
      UNION ALL SELECT 'lineitem_f', count(*) FROM lineitem WHERE l_linestatus='F'""")

  // ---------------------------------------------------------------- agg
  /** Pricing-summary aggregate (beyond the reference's count-only A-class;
    * exercises partial aggregation). Sums are computed in exact DECIMAL
    * then cast to DOUBLE so partial-aggregation order cannot perturb the
    * hash; avg is a single deterministic double division. */
  private val aggPricing = Q("q_agg_pricing_summary",
    (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_shipdate") <= to_timestamp(lit("2001-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(12, 2)))
            .cast("double").as("sum_base"),
          sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
            (lit(1).cast(DecimalType(12, 2)) -
              col("l_discount").cast(DecimalType(12, 2))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("n_rows"))
        .withColumn("avg_qty", col("sum_qty") / col("n_rows")),
    """
      SELECT l_returnflag, l_linestatus,
        sum(l_quantity) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                 (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))))
             AS DOUBLE) AS sum_disc_price,
        count(*) AS n_rows,
        sum(l_quantity) / count(*) AS avg_qty
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus""")

  // ---------------------------------------------------------------- window agg
  /** Batch time-bucketing over the events table (SURVEY §2i: streaming is
    * out of parity scope; `window()` as a plain function). */
  private val evWindow = Q("q_events_hourly",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
        .select(col("window.start").as("hour_start"), col("event_type"),
          col("n"), col("sum_value")),
    """
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
        count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2""")

  // ---------------------------------------------------------------- S2/S3
  /** S2+S3: partitioned overwrite sink + stage re-read lineage cut
    * (`FULL:1450`, `PUSH:227-229`), verified by reading back what was
    * written. */
  private val sink = Q("q_s2_sink_roundtrip",
    (s, dir) => {
      val staged = Sinks.stageOut(s,
        t(s, dir, "orders")
          .where(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
        Stage.work("q_s2_sink_roundtrip", dir))
      staged.select("o_orderkey", "o_custkey", "o_totalprice")
    },
    """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderstatus = 'F'""")

  // ---------------------------------------------------------------- F17/F18
  /** Nested-document assembly flattened back out (`PUSH:239-345`,
    * `FULL:659-696`): struct build, array-of-struct questionnaire,
    * conditional struct nullification — then field extraction so the
    * oracle can check the values. */
  /** The q_doc_assembly_flat projection: nested document → scalars. */
  private def flattenProspectDoc(doc: DataFrame): DataFrame = doc.select(
    col("leadid"),
    col("administration.channel").as("admin_channel"),
    col("administration.createdDate").as("created_date"),
    col("customerDetails.segment").as("cust_segment"),
    col("purchaseDetails.totalPrice").as("total_price"),
    col("enrollmentDetails.interests").getItem(0).getField("questionId")
      .as("q0_id"),
    col("enrollmentDetails.interests").getItem(1).getField("response")
      .getItem(1).as("q1_resp2"),
    col("enrollmentDetails").isNull.as("enrollment_null"))

  private val docFlatSql = """
      SELECT CAST(o_orderkey AS VARCHAR) AS leadid,
        CASE o_orderpriority WHEN '1-URGENT' THEN 'DIRECT'
          WHEN '2-HIGH' THEN 'DEALER' WHEN '3-MEDIUM' THEN 'WEB'
          ELSE 'OTHER' END AS admin_channel,
        strftime(o_orderdate, '%d/%m/%Y') AS created_date,
        c_mktsegment AS cust_segment,
        o_totalprice AS total_price,
        CASE WHEN o_orderstatus = 'O' THEN NULL ELSE 'QM004' END AS q0_id,
        CASE WHEN o_orderstatus = 'O' THEN NULL
             ELSE coalesce(o_orderstatus, '') END AS q1_resp2,
        (o_orderstatus = 'O') AS enrollment_null
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey"""

  private val docFlat = Q("q_doc_assembly_flat",
    (s, dir) => flattenProspectDoc(Documents.prospectDocument(docInput(s, dir))),
    docFlatSql)

  private def docInput(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
      .withColumn("channel", Scalars.caseLadder(col("o_orderpriority"),
        Seq("1-URGENT" -> "DIRECT", "2-HIGH" -> "DEALER", "3-MEDIUM" -> "WEB"),
        lit("OTHER")))
      .withColumn("created_date", Scalars.ddMMyyyy(col("o_orderdate")))
  }

  /** Full nested document, MATERIALIZED and hash-checked: build the
    * document (`PUSH:349-350`), WRITE the nested parquet, read it back,
    * and flatten the round-tripped bytes to the q_doc_assembly_flat
    * projection. The parquet stage pins the nested representation — the
    * optimizer cannot collapse struct-build-then-extract across a write
    * — so the gate now hashes the ACTUAL nested output (values, null
    * structs, array order) instead of recording a rows-only pass. */
  private val docNested = Q("q_doc_assembly_nested",
    (s, dir) => {
      val work = Stage.work("q_doc_assembly_nested", dir)
      flattenProspectDoc(
        Sinks.stageOut(s, Documents.prospectDocument(docInput(s, dir)), work))
    },
    docFlatSql)

  /** Array set-operation surface over real token arrays: distinct,
    * sort, intersect/union/except against a constant stopword set.
    * Emitted as sizes + sorted joins — element ORDER of set ops is
    * engine-specific (DuckDB's list_distinct permutes; Spark's
    * array_intersect keeps left order), so only the set content is the
    * contract. Narrow per-row expression work, no shuffle. */
  private val fArray = Q("q_f_array_suite",
    (s, dir) => {
      val stops = array(graft.text.TextAnalysis.enStops.map(lit): _*)
      graft.sources.Tables.load(s, dir, "documents").select(
        col("doc_id"),
        size(array_distinct(graft.text.TextAnalysis.tokens)).cast("long")
          .as("n_kinds"),
        array_join(slice(sort_array(array_distinct(
          graft.text.TextAnalysis.tokens)), 1, 3), " ").as("first3"),
        size(array_intersect(graft.text.TextAnalysis.tokens, stops))
          .cast("long").as("n_stop_kinds"),
        size(array_except(graft.text.TextAnalysis.tokens, stops))
          .cast("long").as("n_nonstop_kinds"),
        size(array_union(graft.text.TextAnalysis.tokens, stops))
          .cast("long").as("n_union_kinds"))
    },
    raw"""
      WITH t AS (SELECT doc_id,
          string_split_regex(lower(trim(text)), '\s+') AS tok,
          ['the', 'a', 'and', 'of', 'to', 'in', 'is'] AS stops
        FROM documents)
      SELECT doc_id,
        CAST(len(list_distinct(tok)) AS BIGINT) AS n_kinds,
        array_to_string(list_sort(list_distinct(tok))[1:3], ' ')
          AS first3,
        CAST(len(list_intersect(tok, stops)) AS BIGINT) AS n_stop_kinds,
        CAST(len(list_filter(list_distinct(tok),
          x -> NOT list_contains(stops, x))) AS BIGINT)
          AS n_nonstop_kinds,
        CAST(len(list_distinct(list_concat(tok, stops))) AS BIGINT)
          AS n_union_kinds
      FROM t""")

  val all: Seq[Q] = Seq(
    s1, o2Limit, pShape, fScalar, fDatetime, f5, f19, f20, fArray,
    j1, j2, typed, j3, j3r, j3e, j3a, j4, j6, a3,
    w1, w1s, w2, u1, u2, u3, u4, u5, p9, ladder,
    a1, aggPricing, evWindow, sink, docFlat, docNested)
}
