package graft

import scala.collection.mutable.ListBuffer

import graft.BenchStats.{Cell, Run}

/** The measurement mains' shared rep loop ([[BenchStats.runReps]]) and
  * its per-label aggregation ([[BenchStats.series]]). */
class BenchStatsSpec extends SparkSuite {

  private def runReported(reps: Int, cells: Seq[Cell]): (Seq[Run], Seq[Run]) = {
    val reported = ListBuffer.empty[Run]
    val runs = BenchStats.runReps(spark, reps, cells)(reported += _)
    (runs, reported.toList)
  }

  test("runReps runs the cells rep-major, in order, with epoch bounds") {
    val seen = ListBuffer.empty[(Int, String)]
    val cells = Seq("a", "b", "c").map(leg =>
      Cell("d", leg, rep => { seen += ((rep.n, leg)); leg.length.toLong }))
    val (runs, reported) = runReported(2, cells)
    val order = for (r <- 1 to 2; l <- Seq("a", "b", "c")) yield (r, l)
    assert(seen.toList == order)
    assert(runs.map(r => (r.rep, r.cell.leg)) == order)
    assert(reported == runs)
    runs.foreach { r =>
      assert(r.rows == 1L && r.error.isEmpty)
      assert(r.secs >= 0 && r.t0Ms <= r.t1Ms)
    }
  }

  test("a cell that throws is recorded as an error and later cells still run") {
    val cells = Seq(
      Cell("d", "ok", _ => 1L),
      Cell("d", "bad", rep =>
        if (rep.n == 1) throw new IllegalStateException("boom") else 2L),
      Cell("d", "after", _ => 3L))
    val (runs, reported) = runReported(2, cells)
    assert(runs.size == 6 && reported.size == 6)
    val bad = runs.filter(_.cell.leg == "bad")
    assert(bad.map(_.error) == Seq(Some("boom"), None))
    assert(bad.map(_.rows) == Seq(0L, 2L))
    assert(runs.filter(_.cell.leg == "after").map(_.error) == Seq(None, None))
    val s = BenchStats.series(runs).find(_.leg == "bad").get
    assert(s.secs.size == 1 && s.error.contains("boom"))
  }

  test("the cache is empty after each cell") {
    def cached = !spark.sharedState.cacheManager.isEmpty
    val atStart = ListBuffer.empty[Boolean]
    spark.catalog.clearCache() // frames another suite left on the session
    val cells = Seq("x", "y").map(leg => Cell("d", leg, _ => {
      atStart += cached
      val df = spark.range(0, 100).toDF("id").persist()
      df.count()
    }))
    val (runs, _) = runReported(2, cells)
    assert(runs.forall(_.error.isEmpty))
    assert(atStart.toList == List(false, false, false, false))
    assert(!cached)
  }

  test("each cell and each part gets a median and a minimum") {
    val cells = Seq(
      Cell("d", "total", rep => { rep.part("p", rep.n.toDouble, 7L); 7L }),
      Cell("e", "q", _ => 1L),
      Cell("e", "broken", _ => throw new RuntimeException("always")))
    val (runs, _) = runReported(3, cells)
    val ss = BenchStats.series(runs)
    assert(ss.map(_.label) == Seq("d#p", "d#total", "e#q", "e#broken"))
    val p = ss.head
    assert(p.secs == Vector(1.0, 2.0, 3.0))
    assert(p.median.contains(2.0) && p.min.contains(1.0))
    assert(runs.head.parts.map(x => (x.name, x.rows)) == Seq(("p", 7L)))
    ss.filter(_.leg != "broken").foreach { s =>
      assert(s.secs.size == 3)
      assert(s.min.get <= s.median.get)
    }
    val broken = ss.last
    assert(broken.median.isEmpty && broken.min.isEmpty)
    assert(broken.error.contains("always"))
  }
}
