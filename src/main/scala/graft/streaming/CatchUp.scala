package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** The one runner of the engine's stream queries. The reference is
  * batch-only (SURVEY.md §2i), so a stream here is the catch-up form of
  * its incremental semantics: process what is available, then stop —
  * what a scheduled job over a growing source does at 100 TB.
  *
  * Every run follows the same rules, and this object is the only code
  * in `src/main` that starts a stream:
  *  - a run owns one scratch dir, `work` (a `Stage.work` dir for the
  *    registered queries), and [[fresh]] clears it before anything is
  *    staged into it, so a run never resumes from an earlier run's
  *    checkpoint or reads its staged files or output;
  *  - it checkpoints at `<work>/ckpt`, never in a directory Spark picks
  *    under `java.io.tmpdir` (which Spark keeps when a query fails);
  *  - it runs with `Trigger.AvailableNow` and returns once every
  *    available file is processed; a failed batch throws here.
  *
  * Sources a run stages itself are read back by [[replay]] with the
  * schema of the frame that was written, and [[chunked]] is the one
  * multi-batch staging.
  */
object CatchUp {

  /** Clears `work`, the scratch dir of one run, and returns it. */
  def fresh(spark: SparkSession, work: String): String = {
    FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(work), true)
    work
  }

  /** Runs `stream` into the memory table `name` in output `mode`, and
    * returns that table. */
  def toMemory(stream: DataFrame, name: String, mode: String,
      work: String): DataFrame = {
    run(stream.writeStream.outputMode(mode).format("memory").queryName(name),
      work)
    stream.sparkSession.table(name)
  }

  /** Runs `stream`, handing each micro-batch and its id to `f`. */
  def eachBatch(stream: DataFrame, work: String)(
      f: (DataFrame, Long) => Unit): Unit =
    run(stream.writeStream.foreachBatch(f), work)

  private def run(writer: DataStreamWriter[Row], work: String): Unit =
    writer.option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** A file stream over the parquet `written` was just staged to at
    * `path`. FileStreamSource takes its schema up front; it is
    * `written`'s, every field nullable as a parquet read gives it.
    * `oneFilePerBatch` replays the files one micro-batch each, oldest
    * modification time first. */
  private[streaming] def replay(written: DataFrame, path: String,
      oneFilePerBatch: Boolean = false): DataFrame = {
    val reader = written.sparkSession.readStream
      .schema(StructType(written.schema.map(_.copy(nullable = true))))
    (if (oneFilePerBatch) reader.option("maxFilesPerTrigger", "1") else reader)
      .parquet(path)
  }

  /** Stages `events` (any frame with an `event_id`) at `path` as four
    * hive-style partitions, `chunk = pmod(event_id, 4)`, one file each,
    * and replays them one micro-batch each: a real multi-batch run over
    * the whole set, with `chunk` as the stream's last column. */
  private[streaming] def chunked(events: DataFrame, path: String): DataFrame = {
    val staged = events.withColumn("chunk",
      pmod(col("event_id"), lit(4)).cast("int"))
    staged.repartition(col("chunk")).write.partitionBy("chunk").parquet(path)
    replay(staged, path, oneFilePerBatch = true)
  }
}
