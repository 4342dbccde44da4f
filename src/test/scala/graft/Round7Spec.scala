package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Captures every WARN+ log line emitted while `body` runs, so tests can
  * assert on the ABSENCE of silent-degradation warnings (codegen
  * interpreter fallback, Janino compile failures) that leave results
  * correct but de-optimize the hot path. */
object LogCapture {
  private class Capture extends AbstractAppender(
      "graft-capture", null, null, false, Property.EMPTY_ARRAY) {
    val lines = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    override def append(event: LogEvent): Unit = {
      lines.add(event.getMessage.getFormattedMessage)
      val t = event.getThrown
      if (t != null) lines.add(String.valueOf(t.getMessage))
    }
  }

  def warnings[T](body: => T): (T, Seq[String]) = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    val app = new Capture
    app.start()
    root.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try {
      val r = body
      import scala.jdk.CollectionConverters._
      (r, app.lines.asScala.toSeq)
    } finally {
      root.removeAppender("graft-capture")
      ctx.updateLoggers()
      app.stop()
    }
  }
}

class Round7Spec extends SparkSuite {

  test("transformWithState runs with ZERO codegen interpreter fallbacks " +
      "and matches the batch aggregate") {
    val work = scratch("tws_codegen")
    val (result, warns) = LogCapture.warnings {
      graft.streaming.TransformWithState
        .runningUserAggregates(spark, sf, work)
        .collect()
    }
    val bad = warns.filter(m =>
      m.contains("falling back to interpreter") ||
      m.contains("Failed to compile"))
    assert(bad.isEmpty,
      s"codegen fell back to interpreter ${bad.size} time(s):\n" +
        bad.take(3).mkString("\n"))

    val batch = Tables.load(spark, sf, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_ts_us"))
      .collect()
    assert(result.map(_.toSeq).toSet == batch.map(_.toSeq).toSet)
  }

  test("prefix-filtered containment join ≡ brute-force all-pairs " +
      "(the filter loses nothing)") {
    import graft.text.Dedup
    val sh = graft.CacheScope.persist(
      Dedup.shingles(Tables.load(spark, sf, "documents")))
    val t = 0.9
    val fast = Dedup.prefixContainmentPairs(sh, t)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val brute = sh.select(col("doc_id").as("da"), col("s"))
      .join(sh.select(col("doc_id").as("db"), col("s")), "s")
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .withColumn("containment", col("n_common").cast("double") /
        least(col("na"), col("nb")))
      .filter(col("containment") >= t)
      .select(col("da"), col("db"), col("n_common"),
        round(col("containment"), 6).as("containment"))
    assert(fast.except(brute).count() == 0)
    assert(brute.except(fast).count() == 0)
    assert(fast.count() > 0, "fixture produced no containment pairs")
  }
}
