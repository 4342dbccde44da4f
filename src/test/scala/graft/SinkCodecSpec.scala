package graft

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.metadata.CompressionCodecName.{SNAPPY, ZSTD}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{Bucketing, Sinks, Stage, Tables}
import graft.streaming.EventsStream

/** Every parquet the engine writes is zstd: each write path in
  * `src/main` leaves only ZSTD column chunks, read from the files'
  * footers. A host's own codec still wins, set on its session or on one
  * write, and a nested document frame reads back the same rows under
  * either codec. */
class SinkCodecSpec extends SparkSuite {

  private def scratch(name: String): String = s"${Stage.root}/test_codec_$name"

  /** The codec of every column chunk of each data file `df` reads. */
  private def codecs(df: DataFrame): Map[String, Set[CompressionCodecName]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = df.inputFiles.toSeq
    assert(files.nonEmpty, "no data files")
    files.map { f =>
      f -> Using.resource(ParquetFileReader.open(
          HadoopInputFile.fromPath(new HPath(f), conf))) { r =>
        r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
      }
    }.toMap
  }

  /** Every file of `df` with rows holds `codec` chunks only, and there is
    * at least one such file. */
  private def assertCodec(df: DataFrame, codec: CompressionCodecName): Unit = {
    val byFile = codecs(df).filter(_._2.nonEmpty)
    assert(byFile.nonEmpty, "no file holds a row group")
    byFile.foreach { case (f, cs) => assert(cs == Set(codec), s"$f: $cs") }
  }

  private lazy val orders = Tables.load(spark, sf, "orders")
    .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")

  test("every engine write path writes zstd column chunks") {
    assertCodec(Sinks.stageOut(spark, orders, scratch("stage")), ZSTD)

    val parted = scratch("partitioned")
    Sinks.writePartitioned(orders, parted, Seq("o_orderstatus"))
    assertCodec(Tables.read(spark, parted), ZSTD)

    val compact = scratch("compact")
    Sinks.compactWrite(orders, compact, col("o_orderkey"), 4, 100L)
    assertCodec(Tables.read(spark, compact), ZSTD)

    CacheScope.scoped {
      assertCodec(Bucketing.stageBucketed(orders, "codec", 4, Seq("o_orderkey")), ZSTD)
    }

    // a foreachBatch sink of a CatchUp run, and the chunked staging and
    // per-batch versions of another
    assertCodec(EventsStream.sinkViaForeachBatch(spark, sf,
      Stage.work("test_codec_stream", sf)), ZSTD)
    val merged = Stage.work("test_codec_merge", sf)
    assertCodec(EventsStream.mergeSink(spark, sf, merged), ZSTD)
    assertCodec(Tables.read(spark, s"$merged/src"), ZSTD)

    val terminal = scratch("terminal")
    SparkEntry.queries("q_s1_scan_filter")(spark, sf)
      .write.mode("overwrite").parquet(terminal)
    assertCodec(Tables.read(spark, terminal), ZSTD)
  }

  test("a host's codec wins: set on its session, or on one write") {
    val host = spark.newSession()
    host.conf.set("spark.sql.parquet.compression.codec", "snappy")
    val hostOrders = Tables.load(host, sf, "orders").select("o_orderkey", "o_custkey")
    assertCodec(Sinks.stageOut(host, hostOrders, scratch("host_session")), SNAPPY)

    val one = scratch("one_write")
    orders.write.mode("overwrite").option("compression", "snappy").parquet(one)
    assertCodec(Tables.read(spark, one), SNAPPY)
    assert(spark.conf.get("spark.sql.parquet.compression.codec") == "zstd")
  }

  test("a nested Outbound.push document frame reads back the same rows under either codec") {
    val docs = Outbound.push(spark, sf, scratch("outbound")).docs
    assert(docs.schema.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.StructType]),
      docs.schema.treeString)
    val want = docs.collect().toSeq
    assert(want.nonEmpty)
    Seq("zstd" -> ZSTD, "snappy" -> SNAPPY).foreach { case (name, codec) =>
      val path = scratch(s"docs_$name")
      docs.write.mode("overwrite").option("compression", name).parquet(path)
      val back = Tables.read(spark, path)
      assertCodec(back, codec)
      assert(back.columns.toSeq == docs.columns.toSeq)
      val got = back.collect().toSeq
      assert(got.size == want.size)
      assert(got.toSet == want.toSet, s"$name read-back differs")
    }
  }
}
