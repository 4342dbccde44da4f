package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import graft.streaming.EventsStream
import graft.multimodal.Multimodal

class StreamingMultimodalSpec extends SparkSuite {

  test("streaming hourly agg ≡ batch hourly agg (stream/batch parity)") {
    val streamed = EventsStream.hourlyAggregates(spark, sf)
    val batch = Tables.load(spark, sf, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("late events beyond the watermark are dropped across restarts") {
    import spark.implicits._
    import java.sql.Timestamp
    import org.apache.spark.sql.streaming.Trigger
    val base = scratch("late_data")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def write(rows: Seq[(Long, Timestamp)], part: String): Unit =
      rows.toDF("id", "ts").write.parquet(s"$base/in/$part")
    // run the same watermarked hourly count to completion; APPEND mode
    // only emits windows the watermark has closed (memory sink can't
    // recover a checkpoint, so collect appends via foreachBatch)
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Timestamp]
    def runOnce() = {
      val q = spark.readStream
        .schema("id LONG, ts TIMESTAMP")
        .parquet(s"$base/in/*")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("n"))
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          emitted ++= b.collect().map(_.getTimestamp(0)); ()
        }
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    write(Seq((1L, t(10, 15)), (2L, t(10, 45)), (3L, t(12, 0))), "p1")
    runOnce() // watermark after this run: 12:00 - 1h = 11:00
    // a late straggler far below the persisted watermark + a fresh event
    write(Seq((4L, t(8, 30)), (5L, t(13, 30))), "p2")
    val q2 = runOnce()
    assert(!emitted.contains(t(8, 0)), s"late window emitted: $emitted")
    assert(emitted.contains(t(10, 0)), s"closed window missing: $emitted")
    val dropped = q2.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    assert(dropped == 1, s"expected the 08:30 straggler dropped, got $dropped")
  }

  test("multimodal: stub decode is deterministic and byte-exact for ascii") {
    val media = Multimodal.asMedia(Tables.load(spark, sf, "documents"))
    val feats = Multimodal.extractFeatures(media)
    // ascii text: payload bytes == n_chars
    val joined = feats.join(Tables.load(spark, sf, "documents"),
      col("media_id") === col("doc_id"))
    assert(joined.filter(col("n_bytes") =!= col("n_chars")).count() == 0)
    assert(feats.filter(col("mean_byte") <= 0 || col("mean_byte") >= 256).count() == 0)
  }

  test("multimodal: frame sampling edge payloads (empty → zero frames; non-ascii → byte slices)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "", "xx", "synthetic"),              // empty payload
      (2L, "héllo wörld, ünïcode bytes!", "xx", "synthetic"), // non-ascii
      (3L, "a" * 130, "en", "synthetic")        // 3 frames: 64+64+2
    ).toDF("doc_id", "text", "lang", "source")
    val frames = Multimodal.sampleFrames(Multimodal.asMedia(docs), frameBytes = 64)
      .collect().groupBy(_.getLong(0))
    // empty payload emits ZERO frames (DuckDB range() semantics), not one
    assert(!frames.contains(1L))
    // frames slice BYTES: the utf-8 payload is longer in bytes than chars
    val nonAscii = frames(2L)
    val byteLen = "héllo wörld, ünïcode bytes!".getBytes("UTF-8").length
    assert(nonAscii.map(_.getLong(2)).sum == byteLen)
    assert(frames(3L).map(r => r.getLong(1) -> r.getLong(2)).sorted.toSeq ==
      Seq(0L -> 64L, 1L -> 64L, 2L -> 2L))
  }

  test("multimodal: q_mm fixtures are ascii (oracle slices chars, engine slices bytes)") {
    val docs = Tables.load(spark, sf, "documents")
    assert(docs.filter(length(col("text")) =!=
      length(col("text").cast("binary"))).count() == 0)
  }
}
