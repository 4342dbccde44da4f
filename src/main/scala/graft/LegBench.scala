package graft

import org.apache.spark.sql.functions._

import graft.BenchStats.{Cell, Run}

/** THE measurement main — every leg-bench family behind one
  * parameterized driver (round-17 consolidation of what had grown to
  * nine one-off mains — the r15 `docHashSetsProbe` drift showed what
  * happens when a probe carries its own copy of a production dataflow,
  * and consolidation is the structural fix: every family below calls
  * the PRODUCTION functions and reads the library's own named defaults,
  * never an inlined mirror or a copied value).
  *
  * Usage: `runMain graft.LegBench [family] [dirs...]` where family is
  * one of `query` (default — the first arg is treated as a dir when it
  * is not a family name, so historical invocations still work),
  * `pair`, `cc`, `sem`, `flagship`. `query` and `flagship` time the
  * end-to-end compositions; `pair`, `cc` and `sem` are the same-boot
  * A/B tools for the three adaptive dispatches (the verify fence, the
  * CC edge bound, flat vs two-level assignment).
  *
  * Every family runs its cells through [[BenchStats.runReps]] — rep-major,
  * cell inner, errors recorded, cache cleared + GC after every cell —
  * inside `CacheScope.scoped`. One JSON rep line per (rep, cell), and
  * one per named part of the cell, each with `leg_rep`, `leg`, `rows`,
  * `secs` and the epoch bounds `t0_ms`/`t1_ms` that `tools/attr_reps.py`
  * slices a Spark event log by (enable it with the session's event-log
  * knob, see `GraftSession.local`); the cell's own line also has
  * `compiles`, the generated classes compiled during the run, and
  * `gc_count`/`gc_ms`, the collections run during it. The last
  * line holds the medians, the per-rep minima (the pair family's
  * adjudication protocol reads per-rep MINIMA, PERF.md) and the per-rep
  * vectors, keyed `dir#leg`.
  *
  * Env knobs: `SPARK_GRAFT_REPS` (default 5; cc and flagship 3), the
  * session knobs `GraftSession.local` reads, and per family:
  *  - query: `SPARK_GRAFT_ONLY` (required) — comma list of registered
  *    query names, each timed as `SparkEntry.queries(q)(spark, dir)
  *    .count()` after one untimed warm-up pass over every cell.
  *  - pair: `SPARK_GRAFT_LEGS` (containment_capped, prefix_capped,
  *    ngram_pinned; default first two), `SPARK_GRAFT_PAIR_BUDGET`
  *    (default 16), `SPARK_GRAFT_PAIR_MINCAP` (default 10) and
  *    `SPARK_GRAFT_FENCES` — comma list of verify-dispatch fence
  *    settings (`default` = [[text.Dedup.DefaultVerifyBroadcastBytes]],
  *    a number, or `0` = bucketed) CROSSED with the legs and
  *    interleaved within each rep: the same-boot A/B over
  *    `Dedup.verifiedCommon`'s three-way dispatch (whose legs give
  *    identical pairs and keep their plan shapes in `VerifySpec`; the
  *    fence values that select each leg come from
  *    `Dedup.verifyEstimates`). The fence is set per
  *    cell on the session conf, which the dispatch reads at
  *    plan-construction time. The production containment leg under an
  *    event log is `SPARK_GRAFT_REPS=1 SPARK_GRAFT_LEGS=containment_capped`.
  *  - cc: `SPARK_GRAFT_CC_MODES` (comma list; `adaptive` = the shipped
  *    [[text.Dedup.DefaultSmallGraphMaxEdges]], an integer pins
  *    `smallGraphMaxEdges`, 0 forces the distributed loop).
  */
object LegBench {

  private val families = Set("query", "pair", "cc", "sem", "flagship")

  def main(args: Array[String]): Unit = {
    val (family, rest) = args.headOption match {
      case Some(f) if families(f) => (f, args.drop(1).toSeq)
      case _ => ("query", args.toSeq)
    }
    family match {
      case "query"    => runQuery(rest)
      case "pair"     => runPair(rest)
      case "cc"       => runCc(rest)
      case "sem"      => runSem(rest)
      case "flagship" => runFlagship(rest)
    }
  }

  private def envReps(default: Int): Int =
    sys.env.getOrElse("SPARK_GRAFT_REPS", default.toString).toInt

  /** The rep lines of one run: one per part, then the cell's own, which
    * also carries the run's generated-class `compiles` and its
    * collections, `gc_count` and `gc_ms`. */
  private def repLines(family: String, extraFields: String = "")(r: Run): Unit = {
    def line(leg: String, rows: Long, secs: Double, t0: Long, t1: Long,
        error: Option[String], more: String = ""): Unit =
      println(f"""{"leg_rep":${r.rep},"family":"$family","dir":"${r.cell.dir}","leg":"$leg"$extraFields,"rows":$rows,"secs":$secs%.3f,"t0_ms":$t0,"t1_ms":$t1$more""" +
        error.fold("")(m => ",\"error\":" + Verify.jsonString(m)) + "}")
    r.parts.foreach(p => line(p.name, p.rows, p.secs, p.t0Ms, p.t1Ms, None))
    line(r.cell.leg, r.rows, r.secs, r.t0Ms, r.t1Ms, r.error,
      s""","compiles":${r.compiles},"gc_count":${r.gcCount},"gc_ms":${r.gcMs}""")
  }

  /** The shared medians tail line (`Bench`'s consumption pattern plus
    * `medians_min`, `per_rep` and, when a rep threw, `errors`; a label
    * with no successful rep reads null). `metric` keeps each family's
    * historical name so committed artifacts read uniformly. */
  private def mediansLine(metric: String, reps: Int, runs: Seq[Run],
      extra: String = ""): Unit = {
    val all = BenchStats.series(runs)
    def obj(ss: Seq[BenchStats.Series])(v: BenchStats.Series => String) =
      ss.map(s => Verify.jsonString(s.label) + ":" + v(s)).mkString("{", ",", "}")
    def num(x: Option[Double]) = x.fold("null")(t => f"$t%.3f")
    val failed = all.filter(_.error.nonEmpty)
    println(s"""{"metric":"$metric","reps":$reps,$extra""" +
      "\"medians\":" + obj(all)(s => num(s.median)) +
      ",\"medians_min\":" + obj(all)(s => num(s.min)) +
      ",\"per_rep\":" + obj(all)(_.secs.map(t => f"$t%.3f").mkString("[", ",", "]")) +
      (if (failed.isEmpty) ""
       else ",\"errors\":" + obj(failed)(s => Verify.jsonString(s.error.get))) +
      "}")
  }

  // ---------------------------------------------------------------- query

  /** Registered-query A/B over directories (the original LegBench).
    *
    * Warm-up (round-18 verdict #4): a small subset run pays the
    * whole-stage-codegen JIT + classloading cost inside its first
    * timed rep — `BENCH_REMEASURE_r17.json` measured subset medians
    * 2–5× the same boot's full-surface medians for untouched code, so
    * subset mode had to disclaim its own numbers. One UNTIMED pass
    * over every cell before the timed reps restores comparability
    * (the full-surface Bench amortizes the same cost over 204 queries
    * and is unaffected). */
  private def runQuery(dirs0: Seq[String]): Unit = {
    val dirs = if (dirs0.nonEmpty) dirs0
               else Seq("target/sf1x", "target/sf10x_docs")
    val queries = sys.env.getOrElse("SPARK_GRAFT_ONLY",
      sys.error("set SPARK_GRAFT_ONLY to a comma list of query names"))
      .split(",").toSeq
    val reps = envReps(5)
    val spark = GraftSession.local(GraftSession.envCpus)
    val cells = for (d <- dirs; q <- queries) yield Cell(d, q, _ =>
      CacheScope.scoped { SparkEntry.queries(q)(spark, d).count() })
    BenchStats.runReps(spark, 1, cells) { r =>
      println(f"""{"leg_warmup":true,"family":"query","dir":"${r.cell.dir}","leg":"${r.cell.leg}","rows":${r.rows},"secs":${r.secs}%.3f""" +
        r.error.fold("")(m => ",\"error\":" + Verify.jsonString(m)) + "}")
    }
    val runs = BenchStats.runReps(spark, reps, cells)(repLines("query"))
    mediansLine("leg_medians", reps, runs, extra = "\"warmup\":true,")
    spark.stop()
  }

  // ----------------------------------------------------------------- pair

  /** The pair family's CAPPED operating mode (verdict round-10 #2):
    * `containmentPairsCapped` and budget-capped `prefixJaccardPairs`
    * over each dir's `documents`, budget applied on BOTH sides of a
    * decade so the exponent measures the mode a 100 TB deployment
    * would run — uncapped, the sf100x leg exceeds single-box spill
    * disk (measured, round 10). The ngram leg pins the rare-postings
    * path (`directPairBudget = 0`) on both sides: the registered
    * query's adaptive dispatch takes the direct path below ~32M pair
    * mass, so an unpinned decade would conflate the one-time path
    * switch with the per-leg slope. The capped prefix mode's recall
    * against the exact twin is `q_dedup_prefix_capped_recall`'s to
    * report (time it with `LegBench query`). */
  private def runPair(dirs0: Seq[String]): Unit = {
    val dirs = if (dirs0.nonEmpty) dirs0
               else Seq("target/sf10x_docs", "target/sf100x_docs")
    val reps = envReps(5)
    val budget = sys.env.getOrElse("SPARK_GRAFT_PAIR_BUDGET", "16").toLong
    // SPARK_GRAFT_PAIR_MINCAP: the df-cap FLOOR (production default 10).
    // On a fixed-vocabulary widened corpus the floor, not the budget,
    // decides the cap (cap = max(minCap, min(qcap, mcap))), and floor-10
    // candidates x the widened array width exceed single-box disk — the
    // round-18 auto-dispatch A/B runs floor 4 (candidate mass sized from
    // the df histogram; the dispatch decision est32-vs-fence reads the
    // HASH-SET frame and is independent of the candidate cap)
    val minCap = sys.env.getOrElse("SPARK_GRAFT_PAIR_MINCAP", "10").toLong
    val spark = GraftSession.local(GraftSession.envCpus)

    def docs(dir: String) = sources.Tables.load(spark, dir, "documents")
    val allLegs: Seq[(String, String => Long)] = Seq(
      "containment_capped" -> { dir: String =>
        CacheScope.scoped {
          text.Dedup.containmentPairsCapped(text.Dedup.shingles(docs(dir)),
            threshold = 0.5, minCap = minCap,
            pairBudgetPerDoc = budget).count()
        }
      },
      "prefix_capped" -> { dir: String =>
        CacheScope.scoped {
          text.Dedup.prefixJaccardPairs(text.Dedup.shingles(docs(dir)),
            threshold = 0.5, pairBudgetPerDoc = Some(budget)).count()
        }
      },
      "ngram_pinned" -> { dir: String =>
        CacheScope.scoped {
          text.Dedup.jaccardPairs(text.Dedup.shingles(docs(dir)),
            dfCap = 10, threshold = 0.5, directPairBudget = 0L).count()
        }
      })
    val legs = sys.env.get("SPARK_GRAFT_LEGS") match {
      case Some(list) =>
        val want = list.split(",").toSet
        allLegs.filter { case (n, _) => want(n) }
      case None => allLegs.filterNot(_._1 == "ngram_pinned")
    }
    // fence crossing (round 17): each named fence becomes a cell-level
    // session-conf pin, so the three-way verify dispatch is A/B-able
    // within one boot, interleaved rep by rep
    val fences: Seq[Option[(String, String)]] =
      sys.env.get("SPARK_GRAFT_FENCES") match {
        case None => Seq(None)
        case Some(list) => list.split(",").map(_.trim).toSeq.map { f =>
          Some((f, if (f == "default")
            text.Dedup.DefaultVerifyBroadcastBytes.toString else f))
        }
      }

    val cells = for (d <- dirs; (leg, fn) <- legs; fence <- fences) yield {
      val (suffix, set) = fence match {
        case None => ("", () => ())
        case Some((name, v)) => (s"@$name", () =>
          spark.conf.set(text.Dedup.VerifyBroadcastBytesKey, v))
      }
      Cell(d, leg + suffix, _ => { set(); fn(d) })
    }
    val runs = BenchStats.runReps(spark, reps, cells)(
      repLines("pair", s""","budget":$budget"""))
    mediansLine("pair_leg_medians", reps, runs,
      extra = s""""budget_per_doc":$budget,""")
    spark.stop()
  }

  // ------------------------------------------------------------------- cc

  /** Connected components in isolation: shingle → MinHash → LSH-band →
    * CC end-to-end, the dispatch leg pinned per mode so a decade whose
    * sides fall on opposite sides of the adaptive bound doesn't
    * conflate the one-time leg switch with the per-leg slope. Prints
    * the directed edge count per dir — the dispatch input and the
    * denominator of any per-edge cost argument. */
  private def runCc(dirs0: Seq[String]): Unit = {
    val dirs = if (dirs0.nonEmpty) dirs0
               else Seq("target/sf10x", "target/sf100x")
    val reps = envReps(3)
    val modes = sys.env.getOrElse("SPARK_GRAFT_CC_MODES", "adaptive")
      .split(",").toSeq
    def bound(mode: String): Long =
      if (mode == "adaptive") text.Dedup.DefaultSmallGraphMaxEdges
      else mode.toLong
    val spark = GraftSession.local(GraftSession.envCpus)
    val edges = scala.collection.mutable.Map.empty[String, Long]
    val cells = for (d <- dirs; m <- modes) yield Cell(d, m, _ =>
      CacheScope.scoped {
        val docs = sources.Tables.load(spark, d, "documents")
        val pairs = text.Dedup.lshCandidates(
          text.Dedup.minhashSignatures(text.Dedup.shingles(docs)))
          .select(col("da"), col("db"))
        if (!edges.contains(d))
          edges(d) = 2L * pairs.count() // directed form, the dispatch input
        text.Dedup.connectedComponents(pairs,
          smallGraphMaxEdges = bound(m)).count()
      })
    val runs = BenchStats.runReps(spark, reps, cells)(repLines("cc"))
    mediansLine("cc_leg_medians", reps, runs,
      extra = s""""modes":[${modes.map(m => s""""$m"""").mkString(",")}],""" +
        "\"directed_edges\":{" + dirs.map(d =>
          s""""$d":${edges.getOrElse(d, -1L)}""").mkString(",") + "},")
    spark.stop()
  }

  // ------------------------------------------------------------------ sem

  /** SemDeDup's scale mode (constant target cluster SIZE, k ∝ n — the
    * paper runs k = 11k on 440M embeddings for the same reason; here
    * k = max(8, n/625)), cost components reported as parts because
    * they scale differently: `fit` (bounded-sample codebook training;
    * rows = centroids trained, which can fall short of k because the
    * fixture chain's vec_ids are copy-offset and seeding reads
    * vec_id < k), `assign_flat` vs `assign_twolevel` (the full
    * nearest-centroid pass measured BOTH ways on the same trained
    * centroids — outputs provably identical,
    * [[graft.similarity.Kmeans.assignTwoLevel]]; rows = n),
    * `fit_assign` (fit + whichever assign the SHIPPED adaptive dispatch
    * takes at that (n, k); a sum, so its epoch bounds are nominal), and
    * `pairs` (the within-cluster cosine self-join — the LINEAR term
    * SemDeDup's sharding buys; rows = duplicate pairs). The cell's own
    * wall is `total`. */
  private def runSem(dirs0: Seq[String]): Unit = {
    val dirs = if (dirs0.nonEmpty) dirs0
               else Seq("/root/testdata/sf0.1", "target/sf1x", "target/sf10x_de")
    val reps = envReps(5)
    val tau = 0.35
    val flatBelow = similarity.Kmeans.DefaultFlatBelow
    val workBudget = similarity.Kmeans.DefaultWorkBudget
    val spark = GraftSession.local(GraftSession.envCpus)

    val cells = dirs.map(dir => Cell(dir, "total", rep => CacheScope.scoped {
      val emb = sources.Tables.load(spark, dir, "embeddings")
      val n = emb.count()
      val k = math.max(8L, n / 625).toInt
      // the fit sample must hold at least k vectors: Kmeans.fit seeds
      // from vec_id < k, so a hard 4096 cap would silently train
      // fewer centroids than the leg reports once n > 2.56M
      val fitSample = math.max(4096, k)
      val t0 = System.nanoTime()
      val cents = CacheScope.cut(similarity.Kmeans
        .fit(emb.filter(col("vec_id") < fitSample), k, iters = 2)
        .select(col("cid"), col("cv")))
      val kTrained = cents.count()
      val tFit = (System.nanoTime() - t0) / 1e9
      rep.part("fit", tFit, kTrained)
      val p = CacheScope.persist(similarity.Knn.prepared(emb))
      p.count()
      val t1 = System.nanoTime()
      val flatAsg = CacheScope.persist(similarity.Kmeans.assign(p, cents))
      flatAsg.count()
      val tFlat = (System.nanoTime() - t1) / 1e9
      rep.part("assign_flat", tFlat, n)
      // forced two-level (workBudget = 0) wherever k clears the
      // tiny-k floor — the A/B leg; identical output by construction
      val tTwo = if (kTrained > flatBelow) {
        val t2 = System.nanoTime()
        similarity.Kmeans.assignTwoLevel(p, cents, workBudget = 0.0).count()
        val t = (System.nanoTime() - t2) / 1e9
        rep.part("assign_twolevel", t, n)
        Some(t)
      } else None
      // shipped-path composite: what the adaptive dispatch runs
      rep.part("fit_assign", tFit + (
        if (kTrained <= flatBelow || n.toDouble * kTrained <= workBudget) tFlat
        else tTwo.getOrElse(tFlat)))
      val t3 = System.nanoTime()
      val nPairs = similarity.SemDedup
        .withinClusterPairs(flatAsg.join(p, "vec_id"), tau).count()
      rep.part("pairs", (System.nanoTime() - t3) / 1e9, nPairs)
      nPairs
    }))
    val runs = BenchStats.runReps(spark, reps, cells)(repLines("sem"))
    mediansLine("sem_leg_medians", reps, runs)
    spark.stop()
  }

  // ------------------------------------------------------------- flagship

  /** Stage-wise attribution of the flagship curation composition
    * (round-18 verdict #3: the decade exponent steepened 0.499 →
    * 0.92/decade between the 50k→500k and 1M→2.5M spans, and the
    * steepening needs a stage name). Runs the PRODUCTION
    * `Flagship.curationPipeline` — the same object the registered
    * `q_flagship_curation` runs, on the shipped adaptive dispatch —
    * with a materializing [[graft.text.Pipelines.StageProbe]]: each
    * composition seam is cut (`CacheScope.cut`) + counted, and a delta clock
    * charges everything since the previous seam (driver-side segments
    * like `Distill.trainGate`'s GD rounds included) to a part named
    * after the seam. The terminal packing count is the part `s10_pack`
    * and the cell's own wall is `total`. Attribution-mode caveat: each
    * seam is materialized (production leaves s1/s2/s5 pipelined into
    * their consumers), so per-stage walls attribute the composition's
    * cost; `total` runs slightly above the query family's unprobed
    * end-to-end and the comparison against it is the mode's honesty
    * check. */
  private def runFlagship(dirs0: Seq[String]): Unit = {
    val dirs = if (dirs0.nonEmpty) dirs0
               else Seq("target/sf20x_de", "target/sf50x_de")
    val reps = envReps(3)
    val spark = GraftSession.local(GraftSession.envCpus)
    val cells = dirs.map(d => Cell(d, "total", rep => CacheScope.scoped {
      var lastNs = System.nanoTime()
      def record(name: String, rows: Long): Unit = {
        rep.part(name, (System.nanoTime() - lastNs) / 1e9, rows)
        lastNs = System.nanoTime()
      }
      val probe: graft.text.Pipelines.StageProbe = (name, df) => {
        val p = CacheScope.cut(df)
        record(name, p.count())
        p
      }
      val out = Flagship.curationPipeline(spark, d, probe = probe)
      val n = out.count()
      record("s10_pack", n)
      n
    }))
    val runs = BenchStats.runReps(spark, reps, cells)(repLines("flagship"))
    mediansLine("flagship_stage_medians", reps, runs)
    spark.stop()
  }
}
