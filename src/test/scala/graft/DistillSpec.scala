package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.text.{Distill, TextAnalysis}

/** Distill's gradient-descent kernel contract.
  *
  * `trainGate` and `distillGate` run each GD round as one plain Spark job
  * over a per-partition feature cache. The per-round SQL form they
  * replaced is kept below verbatim as the reference: the kernel must walk
  * its trajectory bit for bit (weight maps and scored rows compared by
  * their IEEE bits) on fixture documents at several (dim, iters, lr,
  * sample) configurations and on the empty / one-doc / NULL-text /
  * blank-text edges. The mechanism pin fails if a round ever issues a
  * SQL execution again.
  */
class DistillSpec extends SparkSuite {
  import spark.implicits._

  private def gate: Column =
    TextAnalysis.gopherMetrics(10, 1000, 2.0, 10.0, 0.2, 0.2).last

  private def fixture =
    sources.Tables.load(spark, sf, "documents").select(col("doc_id"), col("text"))

  // ---- reference: the per-round SQL GD loop, verbatim ----

  private val sigmoid = round(lit(1.0) / (lit(1.0) + exp(-col("s"))), 6)

  private def wCol(m: Map[Int, Double]): Column =
    if (m.isEmpty) lit(null).cast("double") else element_at(typedLit(m), col("b"))

  private def nonEmptyW(m: Map[Int, Double]): Column = lit(m.nonEmpty)

  private def scored(feats: DataFrame, w: Map[Int, Double]): DataFrame =
    feats
      .where(nonEmptyW(w))
      .select(col("doc_id"), col("y"),
        round(col("x") * wCol(w), 8).cast("decimal(20,8)").as("t"))
      .groupBy(col("doc_id"))
      .agg(sum(col("t")).cast("double").as("s"), max(col("y")).as("y"))

  private def gdTrain(feats: DataFrame, ndocs: Double, iters: Int,
      lr: Double): Map[Int, Double] = {
    def round8(v: Double): Double =
      BigDecimal(v).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    var wMap: Map[Int, Double] =
      feats.select(col("b")).distinct().collect()
        .map(r => r.getInt(0) -> 0.0).toMap
    for (_ <- 1 to iters) {
      val resid = scored(feats, wMap)
        .select(col("doc_id"), (sigmoid - col("y")).as("r"))
      val grads = feats.join(resid.hint("shuffle_hash"), "doc_id")
        .select(col("b"),
          round(col("x") * col("r"), 8).cast("decimal(20,8)").as("g"))
        .groupBy(col("b"))
        .agg(sum(col("g")).cast("double").as("gsum"))
        .select(col("b"),
          round(col("gsum") / lit(ndocs), 8).as("g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      wMap = wMap.map { case (b, v) =>
        b -> round8(v - lr * grads.getOrElse(b, 0.0)) }
    }
    wMap
  }

  /** The reference trainGate + distillGate over the persisted frame. */
  private def reference(docs: DataFrame, label: Column, dim: Int,
      iters: Int, lr: Double): (Map[Int, Double], Seq[Row]) =
    CacheScope.scoped {
      val ndocs = docs.count()
      val feats = CacheScope.persist(
        Distill.labeledFeatures(docs, label, dim, ndocs))
      val w = gdTrain(feats, ndocs.toDouble, iters, lr)
      val rows = scored(feats, w)
        .select(col("doc_id"), col("y").as("label"), sigmoid.as("score"),
          when(sigmoid >= 0.5, 1L).otherwise(0L).as("predicted"))
        .withColumn("correct",
          when(col("predicted") === col("label"), 1L).otherwise(0L))
        .collect().toSeq
      (w, rows)
    }

  // ---- comparison by IEEE bits ----

  private def bits(w: Map[Int, Double]): Map[Int, Long] =
    w.map { case (b, v) => b -> java.lang.Double.doubleToRawLongBits(v) }

  private def rowBits(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.head.asInstanceOf[Long])

  private def assertSameAsReference(docs: DataFrame, label: Column,
      dim: Int, iters: Int, lr: Double): Map[Int, Double] = {
    val (wRef, rowsRef) = reference(docs, label, dim, iters, lr)
    val w = Distill.trainGate(docs, label, dim, iters, lr)
    assert(bits(w) === bits(wRef), s"weights at dim=$dim iters=$iters lr=$lr")
    val rows = CacheScope.scoped {
      Distill.distillGate(docs, label, dim, iters, lr).collect().toSeq
    }
    assert(rowBits(rows) === rowBits(rowsRef),
      s"scored rows at dim=$dim iters=$iters lr=$lr")
    w
  }

  test("GD kernel walks the per-round SQL trajectory bit for bit on fixture docs") {
    val docs = fixture
    val configs = Seq( // (dim, iters, lr, sample)
      (64, 20, 16.0, col("doc_id") % 4 === 0), // the flagship's gate
      (16, 3, 4.0, lit(true)),
      (8, 5, 1.0, col("doc_id") % 3 === 0))
    for ((dim, iters, lr, sample) <- configs) {
      val w = assertSameAsReference(docs.where(sample), gate, dim, iters, lr)
      assert(w.keySet.exists(_ >= 0), "unigram buckets trained")
      assert(w.values.exists(_ != 0.0), "the weights moved")
    }
  }

  test("GD kernel edges: empty corpus, one doc, NULL text, blank text") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(assertSameAsReference(empty, gate, 8, 2, 1.0).isEmpty)
    val one = Seq((7L, "the cat sat on the mat and the dog sat too"))
      .toDF("doc_id", "text")
    assertSameAsReference(one, lit(1L), 8, 3, 2.0)
    val mixed = fixture.where(col("doc_id") < 40)
      .union(Seq((100000L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    assertSameAsReference(mixed, gate, 16, 4, 8.0)
    val blank = fixture.where(col("doc_id") < 40).union(Seq(
      (100001L, ""), (100002L, "   "), (100003L, "\t \n")).toDF("doc_id", "text"))
    assertSameAsReference(blank, gate, 16, 4, 8.0)
  }

  test("trainGate takes a zero step when every training label is NULL") {
    // every label NULL → every bucket's gradient sum is NULL; the oracle
    // (coalesce(g, 0.0)) defines that as no step, not an error
    val docs = Seq((4L, null.asInstanceOf[String]), (8L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val w = Distill.trainGate(docs, gate, dim = 8, iters = 2, lr = 1.0)
    assert(w === (-5 to -1).map(_ -> 0.0).toMap)
  }

  test("trainGate: SQL executions do not grow with rounds; the cache is released") {
    val sc = spark.sparkContext
    val docs = fixture.where(col("doc_id") % 4 === 0)
    def sqlExecutions(iters: Int): Int = {
      val n = new AtomicInteger
      val l = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case _: SparkListenerSQLExecutionStart => n.incrementAndGet()
          case _ =>
        }
      }
      ListenerDrain(sc)
      sc.addSparkListener(l)
      try {
        Distill.trainGate(docs, gate, dim = 16, iters = iters, lr = 4.0)
        ListenerDrain(sc)
      } finally sc.removeSparkListener(l)
      n.get
    }
    val (two, eight) = (sqlExecutions(2), sqlExecutions(8))
    assert(two > 0, "the listener sees trainGate's corpus count")
    assert(two === eight, s"iters=2 ran $two SQL executions, iters=8 ran $eight")
    assert(!sc.getPersistentRDDs.values.exists(_.name == "distill features"))
  }
}
