package graft

import org.apache.spark.sql.functions._

import graft.functions.{SetExpressions, VectorExpressions}

class VectorExpressionSpec extends SparkSuite {
  import spark.implicits._

  test("dot_f64 codegen path matches the composable aggregate form exactly") {
    VectorExpressions.register(spark)
    val df = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val both = df.select(
      expr("dot_f64(e, e)").as("native"),
      expr("aggregate(transform(e, x -> x * x), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
        .as("composed"))
    // bit-exact: identical summation order
    assert(both.filter(col("native") =!= col("composed")).count() == 0)
  }

  test("dot_f64 handles nulls and known values") {
    VectorExpressions.register(spark)
    val df = Seq(
      (Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 5.0, 6.0))),
      (None, Some(Seq(1.0)))).toDF("a", "b")
    val out = df.select(expr("dot_f64(a, b)").as("d")).collect()
    assert(out(0).getDouble(0) == 32.0)
    assert(out(1).isNullAt(0))
  }

  test("dot_f64 rejects non-double-array inputs at analysis") {
    VectorExpressions.register(spark)
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[Exception] { df.select(expr("dot_f64(a, b)")).collect() }
  }

  test("intersect_count_i64 equals size(array_intersect) on sorted distinct arrays") {
    SetExpressions.register(spark)
    // deterministic pseudo-random sorted distinct arrays, plus the edge
    // shapes: empty/empty, empty/nonempty, disjoint, identical, nulls
    val gen = spark.range(0, 500)
      .selectExpr(
        """sort_array(array_distinct(transform(
             sequence(1, cast(pmod(xxhash64(id, 1), 40) as int) + 1),
             i -> xxhash64(id, i) % 50))) as ha""",
        """sort_array(array_distinct(transform(
             sequence(1, cast(pmod(xxhash64(id, 2), 40) as int) + 1),
             i -> xxhash64(id + 7, i) % 50))) as hb""")
      .unionByName(spark.sql(
        """SELECT * FROM VALUES
             (CAST(array() AS ARRAY<BIGINT>), CAST(array() AS ARRAY<BIGINT>)),
             (CAST(array() AS ARRAY<BIGINT>), array(1L, 2L)),
             (array(1L, 3L), array(2L, 4L)),
             (array(1L, 2L, 3L), array(1L, 2L, 3L)),
             (CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS t(ha, hb)"""))
    val bad = gen.selectExpr(
        "intersect_count_i64(ha, hb) as fast",
        "size(array_intersect(ha, hb)) as ref")
      // size() yields -1 for a null input under legacy sizeOfNull=false?
      // session is ANSI: size(NULL) is NULL, matching the expression
      .filter(!(col("fast") <=> col("ref").cast("long")))
      .count()
    assert(bad == 0)
  }

  test("intersect_count_i64 rejects non-long-array inputs at analysis") {
    SetExpressions.register(spark)
    val df = Seq((Seq(1.0), Seq(2.0))).toDF("a", "b")
    intercept[Exception] {
      df.selectExpr("intersect_count_i64(a, b)").collect()
    }
  }

  test("intersect_count_i32 equals size(array_intersect) on sorted distinct int arrays") {
    SetExpressions.register(spark)
    val gen = spark.range(0, 500)
      .selectExpr(
        """sort_array(array_distinct(transform(
             sequence(1, cast(pmod(xxhash64(id, 1), 40) as int) + 1),
             i -> cast(xxhash64(id, i) % 50 as int)))) as ha""",
        """sort_array(array_distinct(transform(
             sequence(1, cast(pmod(xxhash64(id, 2), 40) as int) + 1),
             i -> cast(xxhash64(id + 7, i) % 50 as int)))) as hb""")
      .unionByName(spark.sql(
        """SELECT * FROM VALUES
             (CAST(array() AS ARRAY<INT>), CAST(array() AS ARRAY<INT>)),
             (CAST(array() AS ARRAY<INT>), array(1, 2)),
             (array(1, 3), array(2, 4)),
             (array(1, 2, 3), array(1, 2, 3)),
             (CAST(NULL AS ARRAY<INT>), array(1)) AS t(ha, hb)"""))
    val bad = gen.selectExpr(
        "intersect_count_i32(ha, hb) as fast",
        "size(array_intersect(ha, hb)) as ref")
      .filter(!(col("fast") <=> col("ref").cast("long")))
      .count()
    assert(bad == 0)
  }

  test("intersect_count_i32 counts min-multiplicity on multiset (duplicated) inputs") {
    SetExpressions.register(spark)
    // duplicates arise when two 64-bit hashes share high bits; the
    // merge walk must count min(ma, mb) per value — array_intersect
    // (set semantics) would read 2 here, the screen needs 4
    val r = spark.sql(
      """SELECT intersect_count_i32(array(1, 1, 1, 5, 5, 9),
                                    array(1, 1, 5, 5, 5, 7)) AS c""")
      .head().getLong(0)
    assert(r == 4L)
  }

  test("intersect_count_i32 rejects non-int-array inputs at analysis") {
    SetExpressions.register(spark)
    val df = Seq((Seq(1L), Seq(2L))).toDF("a", "b")
    intercept[Exception] {
      df.selectExpr("intersect_count_i32(a, b)").collect()
    }
  }

  test("32-bit screen soundness: truncation preserves sort order and over-counts the 64-bit intersection") {
    SetExpressions.register(spark)
    // random sorted-distinct 64-bit arrays with FORCED high-bit
    // collisions (values drawn from few 2^32 blocks so truncation
    // duplicates actually occur), plus shared elements
    val gen = spark.range(0, 2000).selectExpr(
      """sort_array(array_distinct(transform(
           sequence(1, cast(pmod(xxhash64(id, 1), 30) as int) + 1),
           i -> (xxhash64(id, i) % 4) * 4294967296L + (xxhash64(id, i, 3) % 8)))) as ha""",
      """sort_array(array_distinct(transform(
           sequence(1, cast(pmod(xxhash64(id, 2), 30) as int) + 1),
           i -> (xxhash64(id + 7, i) % 4) * 4294967296L + (xxhash64(id + 7, i, 3) % 8)))) as hb""")
    val checked = gen.selectExpr(
        "transform(ha, x -> cast(shiftright(x, 32) as int)) as ha32",
        "transform(hb, x -> cast(shiftright(x, 32) as int)) as hb32",
        "intersect_count_i64(ha, hb) as c64")
      .selectExpr(
        // order preservation: arithmetic shiftright of a sorted long
        // array is sorted as-is — no re-sort anywhere in the screen
        "ha32 = sort_array(ha32) as ha_sorted",
        "hb32 = sort_array(hb32) as hb_sorted",
        "intersect_count_i32(ha32, hb32) >= c64 as over_counts")
    assert(checked.filter(!col("ha_sorted") || !col("hb_sorted") ||
      !col("over_counts")).count() == 0)
    // vacuity guard: the generator must actually produce truncation
    // duplicates and strict over-counts somewhere
    val strict = gen.selectExpr(
        """intersect_count_i32(transform(ha, x -> cast(shiftright(x, 32) as int)),
                               transform(hb, x -> cast(shiftright(x, 32) as int))) >
           intersect_count_i64(ha, hb) as s""")
      .filter(col("s")).count()
    assert(strict > 0, "generator produced no high-bit collisions — the test is vacuous")
  }
}
