package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.sources.Stage

/** `graft.streaming.CatchUp` is the one runner of stream queries: no
  * other file in `src/main` starts, triggers or awaits a stream, so
  * every run checkpoints where `CatchUp` puts it — in its own cleared
  * work dir under `Stage.root`, never in a directory Spark picks under
  * `java.io.tmpdir` — and a second run in the same session recomputes
  * rather than resuming the first run's state. */
class CatchUpSpec extends SparkSuite {

  private val streamStart = """writeStream|AvailableNow|awaitTermination""".r

  private def scalaFiles(root: String): List[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList

  test("no file in src/main outside CatchUp starts, triggers or awaits a stream") {
    val hits = for {
      p <- scalaFiles("src/main").sorted
      if p.getFileName.toString != "CatchUp.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if streamStart.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    if (hits.nonEmpty) fail(s"${hits.size} stream runs outside CatchUp:\n" + hits.mkString("\n"))
  }

  test("q_stream_events_hourly twice in one session: equal rows, each run " +
      "checkpointed afresh in its work dir under Stage.root") {
    val started = ArrayBuffer.empty[String]
    val listener = new StreamingQueryListener {
      // a query's started event is delivered before start() returns
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        started.synchronized(started += e.id.toString)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val ckpt = Paths.get(Stage.work("q_stream_events_hourly", sf), "ckpt")
    def run(): (Set[Seq[Any]], String) = {
      val rows = SparkEntry.queries("q_stream_events_hourly")(spark, sf)
        .collect().map(_.toSeq).toSet
      val meta = ckpt.resolve("metadata")
      assert(Files.isRegularFile(meta), s"no checkpoint at $ckpt")
      (rows, Files.readString(meta))
    }
    spark.streams.addListener(listener)
    val (first, second) = try (run(), run())
      finally spark.streams.removeListener(listener)

    assert(first._1.nonEmpty)
    assert(first._1 == second._1)
    assert(ckpt.startsWith(Paths.get(Stage.root)))
    // a run that resumed the first run's checkpoint would keep its query
    // id; a fresh checkpoint holds the id of the run that wrote it
    val ids = started.synchronized(started.toList)
    assert(ids.size == 2 && ids.distinct.size == 2, ids.mkString(", "))
    assert(first._2.contains(ids(0)), first._2)
    assert(second._2.contains(ids(1)), second._2)
  }
}
