package graft

import org.apache.spark.sql.functions._

import graft.sources.{Jdbc, Tables}

class JdbcSpec extends SparkSuite {

  test("jdbc seed + partitioned read round-trips supplier exactly") {
    val src = Tables.load(spark, sf, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val url = Jdbc.memoryUrl("graft_spec")
    Jdbc.seed(src, url, "supplier_src",
      columnTypes = Some("s_name VARCHAR(64)"))
    val back = Jdbc.readPartitioned(spark, url, "supplier_src",
      partitionColumn = "s_suppkey", lowerBound = 0L, upperBound = 10000L,
      numPartitions = 4)
    // the scan is genuinely split: one range-predicated query per partition
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == src.count())
    // exact round-trip, both directions
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
    // type fidelity through the Derby dialect
    assert(back.schema("s_suppkey").dataType == src.schema("s_suppkey").dataType)
    assert(back.schema("s_acctbal").dataType == src.schema("s_acctbal").dataType)
  }

  test("jdbc snapshot lands parquet and re-reads it (lineage cut)") {
    val url = Jdbc.memoryUrl("graft_spec2")
    Jdbc.seed(
      Tables.load(spark, sf, "supplier").select("s_suppkey", "s_acctbal"),
      url, "supplier_snap")
    val snap = Jdbc.snapshot(spark, url, "supplier_snap",
      partitionColumn = "s_suppkey", lowerBound = 0L, upperBound = 10000L,
      numPartitions = 4,
      stagePath = scratch("jdbc_spec_snapshot"))
    // the snapshot's lineage is the parquet stage, not the JDBC relation
    assert(snap.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("parquet"))
    assert(snap.count() ==
      Tables.load(spark, sf, "supplier").count())
    // seed is idempotent: overwrite drops + recreates
    Jdbc.seed(
      Tables.load(spark, sf, "supplier").select("s_suppkey", "s_acctbal"),
      url, "supplier_snap")
    assert(Jdbc.readPartitioned(spark, url, "supplier_snap",
      "s_suppkey", 0L, 10000L, 2).count() == snap.count())
  }
}
