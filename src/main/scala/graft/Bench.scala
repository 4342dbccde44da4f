package graft

import java.nio.file.{Files, Paths}

/** Benchmark main. Runs every registered query `SPARK_GRAFT_REPS` times
  * (default 3) and reports the per-query MEDIAN: a single run on a
  * load-variable box has ±2× per-query variance, which made earlier
  * rounds' regressions unadjudicable. Reps are rep-major (a full pass
  * over all queries per rep) so drifting box load spreads across queries
  * instead of concentrating in one query's reps ([[BenchStats.runReps]]).
  *
  * Output: the driver's one-line JSON on stdout (total = sum of medians)
  * plus the complete artifact — per-rep times included — at
  * target/bench.json (the driver's line capture truncates the head of
  * long lines, which cost rounds 1-3 their first ~19 queries). The
  * artifact also carries each query's per-rep count of generated
  * classes compiled (`compiles`) and their timed-rep sum
  * (`compiles_total`, repeated in the compact last line), and its
  * per-rep collections (`gc_count`) and collection milliseconds
  * (`gc_ms`).
  */
object Bench {
  private def median(xs: Seq[Double]): Double = BenchStats.median(xs)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.local(GraftSession.envCpus)
    // local iteration aids (the driver never sets either, so the contract
    // output is unchanged): SPARK_GRAFT_ONLY=q_a,q_b times a subset;
    // SPARK_GRAFT_SKIP=q_c,q_d excludes queries — used by the scaled-up
    // decade runs to drop the brute-force exact-twin recall gates, whose
    // all-pairs shuffle is quadratic by construction and exceeds the
    // single box's spill disk at 500k+ docs (they gate correctness, not
    // the scale path).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val skip = sys.env.get("SPARK_GRAFT_SKIP").map(_.split(",").toSet)
      .getOrElse(Set.empty[String])
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) && !skip(n) }
    val cells = names.map { case (name, fn) =>
      BenchStats.Cell(sfDir, name, _ => fn(spark, sfDir).count())
    }
    // Streaming queries pay a first-run cost that is pure warm-up —
    // micro-batch engine classloading, state-store provider init,
    // RocksDB JNI — which made their cold reps bimodal (r6 artifact:
    // per-rep max 3-5x the median; every other family sits inside
    // ±15%). One untimed pass over the q_stream_* family pins all
    // TIMED reps to warm-path behavior; failures surface in the timed
    // reps, so they're only logged here — a broken warm-up must stay
    // visible when adjudicating timed-rep variance (a half-initialized
    // state dir can skew the reps).
    BenchStats.runReps(spark, 1, cells.filter(_.leg.startsWith("q_stream_"))) {
      r => r.error.foreach(m =>
        System.err.println(s"[bench] warm-up of ${r.cell.leg} failed: $m"))
    }
    val timed = BenchStats.runReps(spark, reps, cells) { r =>
      r.error.foreach(m =>
        System.err.println(s"[bench] ${r.cell.leg} failed: $m"))
    }
    // name -> (per-rep seconds for successful reps, first error if any)
    val runs: Seq[(String, Seq[Double], Option[String])] =
      BenchStats.series(timed).map(s => (s.leg, s.secs, s.error.map(_.take(120))))
    // per query, one value per rep, failed reps included
    def perQueryRep(v: BenchStats.Run => Long): String =
      timed.groupBy(_.cell.leg).toSeq.sortBy(_._1)
        .map { case (k, rs) => Verify.jsonString(k) + ":" +
          rs.sortBy(_.rep).map(v).mkString("[", ",", "]") }
        .mkString("{", ",", "}")
    // generated classes compiled: rep 1 pays each query's new classes,
    // later reps only cache misses
    val compiles = perQueryRep(_.compiles)
    val compilesTotal = timed.map(_.compiles).sum
    // a broken query must never subsidize the total: no successful rep →
    // null in `queries` plus an entry in `errors`
    val qs = runs.map { case (k, ts, _) =>
      Verify.jsonString(k) + ":" + (if (ts.nonEmpty) median(ts).toString else "null")
    }.mkString("{", ",", "}")
    val errs = runs.collect { case (k, _, Some(m)) =>
      Verify.jsonString(k) + ":" + Verify.jsonString(m)
    }.mkString("{", ",", "}")
    val total = runs.collect { case (_, ts, _) if ts.nonEmpty => median(ts) }.sum
    val nErrors = runs.count { case (_, ts, _) => ts.isEmpty }
    // full_artifact points the driver's (line-truncating) capture at the
    // complete on-disk copy, so the round artifact is self-contained
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
      s""""queries":$qs,"errors":$errs,"n_errors":$nErrors,"sf":"$sfDir",""" +
      s""""full_artifact":"target/bench.json"}"""
    // complete artifact, immune to line truncation: medians + every rep
    val perRep = runs.map { case (k, ts, _) =>
      Verify.jsonString(k) + ":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/bench.json"),
      line.dropRight(1) + s""","per_rep":$perRep,"compiles":$compiles,""" +
        s""""compiles_total":$compilesTotal,"gc_count":${perQueryRep(_.gcCount)},""" +
        s""""gc_ms":${perQueryRep(_.gcMs)}}""")
    println(line)
    // compact summary printed LAST: the round snapshot keeps a truncated
    // TAIL of the output, which in r1-r7 lost the headline totals at the
    // head of the long line — the final line always survives intact
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
      s""""n_queries":${names.size},"n_errors":$nErrors,"compiles":$compilesTotal,""" +
      s""""sf":"$sfDir",""" +
      s""""summary_of":"full line above","full_artifact":"target/bench.json"}""")
    spark.stop()
  }
}
