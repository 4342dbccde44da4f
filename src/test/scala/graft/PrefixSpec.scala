package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Scalars
import graft.operators.{Prefix, TopK}
import graft.text.{Curation, TextAnalysis}

/** `operators.Prefix` is the one global-offset operator: the surrogate
  * key, sequence packing and the exact quantile band all take a row's
  * position in a global order from it. Each contract is checked against
  * its single-task window form, kept verbatim in the companion object, on
  * generated frames (empty, one row, NULL keys, one range partition,
  * fewer rows than partitions, three forced partitions over sf0.001).
  * Every case runs twice in one JVM with unrelated RDDs made in between:
  * Spark seeds the range sample with the RDD id, so the two runs see
  * different range bounds, and the output must not move. */
class PrefixSpec extends SparkSuite {
  import spark.implicits._
  import PrefixSpec._

  // ---- harness ----

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** Unrelated RDDs: each takes an id, so the next range sample is seeded
    * differently. */
  private def churnRddIds(): Unit =
    (1 to 5).foreach(i => spark.sparkContext.parallelize(1 to 100, 3).map(_ * i).count())

  /** The one form, run twice with RDD churn in between, equals the
    * reference both times. */
  private def assertMatches(what: String, reference: => DataFrame, one: => DataFrame): Unit = {
    val expect = rows(reference)
    val first = rows(one)
    churnRddIds()
    val second = rows(one)
    assert(first == second, s"$what: two runs in one JVM disagree")
    assert(first == expect, s"$what: the one form differs from the window reference")
  }

  private lazy val orders = spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey")
  private lazy val documents = spark.read.parquet(s"$sf/documents.parquet")
    .select("doc_id", "text")

  private val keyCases: Seq[(String, () => DataFrame)] = Seq(
    "empty" -> (() => orders.where(lit(false))),
    "one row" -> (() => Seq(42L).toDF("o_orderkey")),
    "NULL key" -> (() => Seq(Some(5L), None, Some(1L), Some(3L)).toDF("o_orderkey")),
    "fewer rows than partitions" -> (() => Seq(9L, 2L, 7L).toDF("o_orderkey")))

  for ((name, frame) <- keyCases)
    test(s"surrogate key equals the global window, $name") {
      assertMatches(name, surrogateKeyGlobal(frame(), col("o_orderkey")),
        TopK.surrogateKey(frame(), col("o_orderkey")))
    }

  test("surrogate key equals the global window over sf0.001 orders in three forced partitions") {
    withConfs(threePartitions: _*) {
      assertMatches("orders", surrogateKeyGlobal(orders, col("o_orderkey")),
        TopK.surrogateKey(orders, col("o_orderkey")))
    }
  }

  test("surrogate keys survive a write path: every row once, every id distinct") {
    // regression: inconsistent partition-id spaces under AQE dropped rows
    // between count and write
    val sc = TopK.surrogateKey(orders, col("o_orderkey"))
    val out = scratch("surrogate_roundtrip")
    sc.coalesce(1).write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == orders.count())
    assert(back.select("surrogate_id").distinct().count() == orders.count())
  }

  private val bandCases: Seq[(String, () => DataFrame)] = Seq(
    "empty" -> (() => Seq.empty[(Long, Double)].toDF("doc_id", "sc")),
    "one row" -> (() => Seq((1L, 0.5)).toDF("doc_id", "sc")),
    "NULL scores" -> (() => Seq((1L, Some(0.3)), (2L, None), (3L, Some(0.1)),
      (4L, None), (5L, Some(0.3)), (6L, Some(0.9))).toDF("doc_id", "sc")),
    "fewer rows than partitions" -> (() => Seq((1L, 0.2), (2L, 0.1), (3L, 0.2))
      .toDF("doc_id", "sc")))

  for ((name, frame) <- bandCases)
    test(s"quantile band equals the percent_rank window, $name") {
      assertMatches(name,
        quantileBandWindow(frame(), col("sc"), col("doc_id"), 0.0, 0.75),
        Curation.quantileBand(frame(), col("sc"), col("doc_id"), 0.0, 0.75))
    }

  test("quantile band equals the percent_rank window over sf0.001 documents in three forced partitions") {
    withConfs(threePartitions: _*) {
      val scored = documents.select(col("doc_id"), TextAnalysis.qualityScore.as("sc"))
      assertMatches("documents",
        quantileBandWindow(scored, col("sc"), col("doc_id"), 0.05, 0.95),
        Curation.quantileBand(scored, col("sc"), col("doc_id"), 0.05, 0.95))
    }
  }

  private val packCases: Seq[(String, () => DataFrame)] = Seq(
    "empty" -> (() => documents.where(lit(false))),
    "one row" -> (() => Seq((1L, "a b c")).toDF("doc_id", "text")),
    "NULL text" -> (() => Seq((1L, Some("a b")), (2L, None), (3L, Some("c d e")))
      .toDF("doc_id", "text")),
    // one doc repeated: one packing hash, so one range partition holds
    // every row
    "one packing hash" -> (() => Seq.fill(40)((7L, "x y z")).toDF("doc_id", "text")),
    "fewer rows than partitions" -> (() => Seq((3L, "a"), (1L, "b c"), (2L, "d e f"))
      .toDF("doc_id", "text")))

  for ((name, frame) <- packCases)
    test(s"sequence packing equals the window cumsum, $name") {
      assertMatches(name, packSequencesWindow(frame(), 64),
        Curation.packSequences(frame(), 64))
    }

  test("sequence packing equals the window cumsum over sf0.001 documents in three forced partitions") {
    withConfs(threePartitions: _*) {
      assertMatches("documents", packSequencesWindow(documents, 64),
        Curation.packSequences(documents, 64))
    }
  }

  test("Prefix: three forced partitions hold the cut, the total is the measure's sum") {
    withConfs(threePartitions: _*) {
      val (ranked, total) = Prefix(orders, Seq(col("o_orderkey")), lit(1L))
      assert(ranked.rdd.getNumPartitions == 3)
      assert(total == orders.count())
      val starts = ranked.select("start").as[Long].collect().sorted
      assert(starts.toSeq == (0L until total))
      val empty = Prefix(orders.where(lit(false)), Seq(col("o_orderkey")), lit(1L))
      assert(empty._2 == 0L && empty._1.isEmpty)
      val one = Prefix(Seq((1L, 7L)).toDF("k", "m"),
        Seq(col("k")), col("m"))
      assert(one._2 == 7L && one._1.select("start").as[Long].collect().toSeq == Seq(0L))
    }
  }
}

/** The references: the single-task exact forms, verbatim (they were
  * `TopK.surrogateKeyGlobal`, `Curation.packSequences` with its
  * `packInput`/`packProject` and `Curation.quantileBand`). `CurationSpec`
  * and `OperatorsSpec` compare against them too. */
object PrefixSpec {
  /** Three range partitions, kept uncoalesced. */
  val threePartitions: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "3",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  def surrogateKeyGlobal(df: DataFrame, orderCol: Column, prefix: String = "PM",
      width: Int = 9, outCol: String = "surrogate_id"): DataFrame =
    df.withColumn(outCol,
      concat(lit(prefix),
        lpad(row_number().over(Window.orderBy(orderCol)).cast("string"), width, "0")))

  def quantileBandWindow(df: DataFrame, score: Column, tiebreak: Column,
      lo: Double, hi: Double): DataFrame = {
    val w = Window.orderBy(score, tiebreak)
    df.withColumn("q_rank", percent_rank().over(w))
      .filter(col("q_rank") >= lo && col("q_rank") <= hi)
  }

  private def packInput(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(TextAnalysis.tokens).cast("long").as("n_tokens"),
      Scalars.md5Long60(col("doc_id").cast("string")).as("h"))

  private def packProject(cum: DataFrame, seqLen: Int): DataFrame = {
    // a zero-token doc gets a zero-width span at its offset (greatest
    // keeps the formula total; the fixtures have no empty docs)
    cum.select(col("doc_id"), col("n_tokens"), col("start_offset"))
      .withColumn("__last_tok",
        col("start_offset") + greatest(col("n_tokens"), lit(1L)) - 1)
      .withColumn("seq_first", expr(s"start_offset DIV $seqLen"))
      .withColumn("seq_last", expr(s"__last_tok DIV $seqLen"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .drop("__last_tok")
  }

  def packSequencesWindow(docs: DataFrame, seqLen: Int): DataFrame = {
    require(seqLen > 0, "sequence length must be positive")
    val w = Window.orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    packProject(
      packInput(docs).withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(w), lit(0L))),
      seqLen)
  }
}
