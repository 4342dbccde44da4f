package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.functions.ZOrder
import graft.operators.{Resample, Scd}
import graft.text.Curation

/** Round-5 operators: SCD2 history, dense-grid resample, Z-order layout,
  * and the token-run repetition scrub. */
class LayoutTemporalSpec extends SparkSuite {
  import spark.implicits._

  private def t(h: Int, m: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  test("Scd.history collapses runs, versions monotonically, flags current") {
    val log = Seq(
      (1L, t(1), "A"), (1L, t(2), "A"), (1L, t(3), "B"), (1L, t(4), "A"),
      (2L, t(1), "X"))
      .toDF("k", "ts", "attr")
    val out = Scd.history(log, col("k"), Seq(col("ts")), Seq(col("attr")))
      .select("k", "version", "attr", "valid_from", "valid_to", "is_current",
        "n_rows")
      .as[(Long, Long, String, Timestamp, Option[Timestamp], Boolean, Long)]
      .collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq == Seq(
      (1L, 1L, "A", t(1), Some(t(3)), false, 2L),
      (1L, 2L, "B", t(3), Some(t(4)), false, 1L),
      (1L, 3L, "A", t(4), None, true, 1L),
      (2L, 1L, "X", t(1), None, true, 1L)))
  }

  test("Scd.history treats null attribute values null-safely") {
    val log = Seq(
      (1L, t(1), None), (1L, t(2), None), (1L, t(3), Some("v")))
      .toDF("k", "ts", "attr")
    val out = Scd.history(log, col("k"), Seq(col("ts")), Seq(col("attr")))
      .select("version", "n_rows").as[(Long, Long)].collect().sorted
    // the null run is ONE version (null <=> null), not one per row
    assert(out.toSeq == Seq((1L, 2L), (2L, 1L)))
  }

  test("Resample.gapFillHourly fills interior gaps with carry-forward") {
    val ev = Seq(
      (1L, t(0, 10), 1.0), (1L, t(0, 20), 2.0), (1L, t(3, 5), 5.0),
      (2L, t(7), 9.0))
      .toDF("user_id", "ts", "value")
    val out = Resample.gapFillHourly(ev, col("user_id"), col("ts"),
        col("value"))
      .select("k", "hour", "n_events", "is_gap", "filled_value")
      .as[(Long, Timestamp, Long, Boolean, Double)]
      .collect().sortBy(r => (r._1, r._2.getTime))
    assert(out.toSeq == Seq(
      (1L, t(0), 2L, false, 3.0),  // observed: 1.0 + 2.0
      (1L, t(1), 0L, true, 3.0),   // gap, carried
      (1L, t(2), 0L, true, 3.0),   // gap, carried
      (1L, t(3), 1L, false, 5.0),  // observed again
      (2L, t(7), 1L, false, 9.0))) // single-bucket series: no spine growth
  }

  test("ZOrder.interleave16 is the exact Morton interleave") {
    val pairs = Seq(
      (0xFFFFL, 0L, 0x55555555L), // all-even bits
      (0L, 0xFFFFL, 0xAAAAAAAAL), // all-odd bits
      (0xFFFFL, 0xFFFFL, 0xFFFFFFFFL),
      (1L, 0L, 1L), (0L, 1L, 2L), (3L, 5L, 39L),
      (0x10000L, 0L, 0L)) // bit 16 truncated
    val df = pairs.toDF("x", "y", "expect")
      .withColumn("z", ZOrder.interleave16(col("x"), col("y")))
    assert(df.filter(col("z") =!= col("expect")).count() == 0)
  }

  test("interleave16 roundtrips: deinterleaving recovers both coordinates") {
    // inverse ladder in plain Scala: if any spread/mask stage in the
    // Column form were off by a bit, some (x, y) here would not survive
    def unspread(v: Long): Long = {
      var x = v & 0x55555555L
      x = (x | (x >> 1)) & 0x33333333L
      x = (x | (x >> 2)) & 0x0F0F0F0FL
      x = (x | (x >> 4)) & 0x00FF00FFL
      (x | (x >> 8)) & 0x0000FFFFL
    }
    val rows = spark.range(1000).select(
      (col("id") * 31 % 65536).as("x"),
      (col("id") * 2654435761L % 65536).as("y"))
      .withColumn("z", ZOrder.interleave16(col("x"), col("y")))
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (x, y, z) =>
      assert(unspread(z) == x && unspread(z >> 1) == y, s"($x,$y,$z)")
    }
  }

  test("clusterByZ bounds BOTH dimensions across output partitions") {
    // Full 256x256 grid into 16 z-ranges ~= 16 64x64 tiles. Sampled range
    // boundaries straddle tile edges (and the z-curve's quadrant seams),
    // so assert the robust layout property rather than exact tiling:
    // most partitions are tight in BOTH dims, and the total min/max
    // bounding-box area is a fraction of what any one-column sort gives
    // (which pins one axis but leaves the other spanning the full 256).
    val grid = spark.range(256L * 256L)
      .select((col("id") % 256).as("x"), (col("id") / 256).cast("long").as("y"))
    val spans = ZOrder.clusterByZ(grid, col("x"), col("y"), 16)
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .select("sx", "sy").as[(Long, Long)].collect()
    assert(spans.length == 16)
    val tight = spans.count { case (sx, sy) => sx <= 128 && sy <= 128 }
    assert(tight >= 11, s"only $tight/16 partitions tight: ${spans.toSeq}")
    val area = spans.map { case (sx, sy) => (sx + 1.0) * (sy + 1.0) }.sum
    // one-column sort: 16 stripes of 256x~16 ~= full grid-area total
    assert(area < 0.4 * 16 * 256 * 256, s"total bounding area $area")
  }

  test("Merge.upsert: updates win, inserts land, untouched rows survive") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val updates = Seq((2L, "B"), (3L, "C")).toDF("k", "v")
    val out = graft.operators.Merge.upsert(target, updates, Seq("k"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "C")))
  }

  test("Merge.applyChanges deletes tombstoned keys, ignores missing ones") {
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (2L, "B", false),  // update
      (3L, "c", true),   // delete existing
      (4L, "D", false),  // insert
      (9L, "x", true))   // delete of a key not in the target: no-op
      .toDF("k", "v", "is_deleted")
    val out = graft.operators.Merge.applyChanges(target, changes,
        Seq("k"), "is_deleted")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a"), (2L, "B"), (4L, "D")))
  }

  test("Merge.latestBy converges to the same state in any batch order") {
    import graft.operators.Merge
    // k=1 sees an out-of-order replay: the older t=5 change arrives AFTER
    // the t=10 one in the second ordering — event-time order must win
    val b1 = Seq((1L, 10L, "new")).toDF("k", "t", "v")
    val b2 = Seq((1L, 5L, "old"), (2L, 1L, "z")).toDF("k", "t", "v")
    val empty = b1.limit(0)
    val order = Seq(col("t").desc, col("v").desc)
    val fwd = Merge.latestBy(Merge.latestBy(empty, b1, Seq("k"), order),
      b2, Seq("k"), order).as[(Long, Long, String)].collect().sortBy(_._1)
    val rev = Merge.latestBy(Merge.latestBy(empty, b2, Seq("k"), order),
      b1, Seq("k"), order).as[(Long, Long, String)].collect().sortBy(_._1)
    assert(fwd.toSeq == Seq((1L, 10L, "new"), (2L, 1L, "z")))
    assert(rev.toSeq == fwd.toSeq)
  }

  test("compactWrite caps rows per file and keeps ranges contiguous") {
    import graft.sources.Sinks
    val path = scratch("compact_write")
    Sinks.compactWrite(spark.range(500).toDF("id"), path,
      col("id"), nPartitions = 4, maxRecordsPerFile = 100L)
    val perFile = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"))
      .select("n", "lo", "hi").as[(Long, Long, Long)].collect()
    assert(perFile.length >= 5) // 500 rows / 100-cap needs at least 5 files
    perFile.foreach { case (n, _, _) => assert(n <= 100) }
    // files tile the range without overlap: sorted spans are disjoint
    val spans = perFile.map(r => (r._2, r._3)).sortBy(_._1)
    spans.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ =>
    }
  }

  test("z-ordered layout + manifest pruning opens a fraction of the files") {
    import graft.sources.DataSkipping
    val path = scratch("skip_pruned")
    // 64k rows over a 256x256 key grid, clustered on the Morton key
    val grid = spark.range(256L * 256L)
      .select(col("id"), (col("id") % 256).as("x"),
        (col("id") / 256).cast("long").as("y"))
    ZOrder.clusterByZ(grid, col("x"), col("y"), 16)
      .write.mode("overwrite").parquet(path)
    val data = graft.sources.Tables.read(spark, path)
    val stats = DataSkipping.fileStats(data, "x")
    val (df, opened, listed) = DataSkipping.prunedRead(data, stats, "x",
      lo = 10L, hi = 40L)
    // correctness: exactly the predicate's rows survive
    assert(df.count() == 31L * 256L)
    // the point of the layout: a selective x-range touches few files
    assert(listed == 16, s"expected 16 files, listed $listed")
    assert(opened <= listed / 2, s"opened $opened of $listed")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // one hot key holding ~all left rows vs a uniform right side; with
    // broadcast off and the skew thresholds lowered, AQE must mark the
    // sort-merge join skewed and split the hot partition
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      val left = spark.range(200000)
        .select( // ~3/4 of all rows pile onto key 0
          when(col("id") % 4 =!= 0, lit(0L)).otherwise(col("id") % 500)
            .as("k"),
          concat(lit("x"), col("id")).as("pad"))
      val right = spark.range(500).select(col("id").as("k"),
        col("id").cast("string").as("rv"))
      val joined = left.join(right, "k")
      // collect() drives THIS frame's own query execution, so its
      // adaptive plan finalizes (count() would plan separately)
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(1500))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("collapseTokenRuns removes only consecutive duplicates") {
    val docs = Seq(
      (1L, "a a a b b a"), (2L, "solo"), (3L, ""))
      .toDF("doc_id", "text")
    val out = Curation.collapseTokenRuns(docs, col("doc_id"), col("text"))
      .select("doc_id", "n_tokens", "n_removed", "removed_ratio")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 6L, 3L, 0.5), // "a b a" survives: non-adjacent repeat kept
      (2L, 1L, 0L, 0.0),
      (3L, 1L, 0L, 0.0))) // split("") yields one empty token
  }
}
