package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** THE measurement main — every leg-bench family behind one
  * parameterized driver (round-17 consolidation of what had grown to
  * nine one-off mains: LegBench, PairLegBench, CcLegBench, IncLegBench,
  * PmiLegBench, SemLegBench, DistillProbe, PairStageProbe,
  * PairVerifyDiag — the r15 `docHashSetsProbe` drift showed what
  * happens when a probe carries its own copy of a production dataflow,
  * and consolidation is the structural fix: every family below calls
  * the PRODUCTION functions, never an inlined mirror).
  *
  * Usage: `runMain graft.LegBench [family] [dirs...]` where family is
  * one of `query` (default — the first arg is treated as a dir when it
  * is not a family name, so historical invocations still work), `pair`,
  * `cc`, `inc`, `pmi`, `sem`, `pairstage`, `distill`, `flagship`.
  *
  * Shared protocol (PERF.md rounds 9–16): cells interleave WITHIN each
  * rep (rep-major, cell inner) so a lo-vs-hi or A-vs-B comparison
  * shares box conditions rep by rep — back-to-back single-cell
  * sessions on this box drift 3–5× on the pair family, larger than any
  * slope being measured. Every rep line carries wall-clock epoch
  * bounds (`t0_ms`/`t1_ms`) so `tools/attr_reps.py` can slice a Spark
  * event log (enable via `SPARK_GRAFT_EVENTLOG_DIR`) into per-rep
  * wall vs task time vs shuffle bytes vs spill — the standing
  * variance-attribution witness (r16 verdict #4); cache cleared + GC
  * after every cell (shuffle FILES are reclaimed by the ContextCleaner
  * only once the owning exchange RDDs are collected, and a
  * barely-pressured 64g bench heap can go a whole run without a
  * collection — files then accumulate until DISK, not any single
  * query, is the limit: the r15 sf50x rep died ENOSPC under ~60 GB of
  * PRIOR legs' shuffle files while one leg's own peak fit with
  * margin). Medians via [[BenchStats.median]]; per-rep vectors and
  * minima are always printed because the pair family's adjudication
  * protocol reads per-rep MINIMA (PERF.md).
  *
  * Env knobs: `SPARK_GRAFT_REPS` (default 5, cc 3); the four session
  * knobs `GraftSession.local` reads (`SPARK_GRAFT_CPUS`,
  * `SPARK_GRAFT_SHUFFLE_PARTITIONS`, `SPARK_GRAFT_EVENTLOG_DIR`,
  * `SPARK_GRAFT_VERIFY_BROADCAST_BYTES`); and per family:
  *  - query: `SPARK_GRAFT_ONLY` (required) — comma list of registered
  *    query names, each timed as `SparkEntry.queries(q)(spark, dir)
  *    .count()`.
  *  - pair: `SPARK_GRAFT_LEGS` (containment_capped, prefix_capped,
  *    ngram_pinned; default first two), `SPARK_GRAFT_PAIR_BUDGET`
  *    (default 16), `SPARK_GRAFT_PAIR_RECALL=dir` (run the exact
  *    prefix twin once there and report the capped mode's recall),
  *    and `SPARK_GRAFT_FENCES` — comma list of verify-dispatch fence
  *    settings (`default` = the library 1.5e9, a number, or `0` =
  *    bucketed) CROSSED with the legs and interleaved within each
  *    rep: the same-boot A/B over `Dedup.verifiedCommon`'s three-way
  *    dispatch that round 17's middle-octave adjudication needs. The
  *    fence is set per cell on the session conf, which the dispatch
  *    reads at plan-construction time.
  *  - cc: `SPARK_GRAFT_CC_MODES` (comma list; `adaptive` = shipped
  *    2^22 bound, an integer pins `smallGraphMaxEdges`, 0 forces the
  *    distributed loop).
  *  - pmi: `SPARK_GRAFT_PMI_TOPV` (default 4096),
  *    `SPARK_GRAFT_PMI_MAXDF` (fraction in (0,1], `none`/`off`/empty
  *    = unbanded; default 0.5).
  *  - pairstage: args are `<family> <dir> [budget] [minCap]` — times each
  *    stage of `Dedup.cappedCandidateStages` separately, then the
  *    verify under all THREE dispatches (broadcast-64, two-phase
  *    broadcast-32, bucketed) by pinning the fence around the
  *    dispatch's own size estimates.
  *
  * Family notes:
  *  - `inc` stages each dir's corpus band index ONCE per form (plain
  *    parquet and the bucketed sink on (band_idx, band_val)) — the
  *    amortized ingest cost — then times only the per-increment
  *    marginal `incrementalLshDedup`, which is what recurs at 100 TB.
  *  - `sem` reports SemDeDup's cost components separately (fit /
  *    assign_flat / assign_twolevel / fit_assign / pairs) because they
  *    scale differently — see the k ∝ n rationale in PERF.md round 11;
  *    output components are identical across assign forms by
  *    construction ([[graft.similarity.Kmeans.assignTwoLevel]]).
  *  - `distill` is the one-shot hyper-parameter probe for
  *    `Distill.distillGate` (accuracy vs base rate), diagnostics only.
  *  - the former PairVerifyDiag (production containment leg under an
  *    event log) is exactly `LegBench pair <dir>` with
  *    `SPARK_GRAFT_REPS=1 SPARK_GRAFT_LEGS=containment_capped
  *    SPARK_GRAFT_EVENTLOG_DIR=target/eventlog`.
  */
object LegBench {

  private val families =
    Set("query", "pair", "cc", "inc", "pmi", "sem", "pairstage", "distill",
      "flagship")

  def main(args: Array[String]): Unit = {
    val (family, rest) = args.headOption match {
      case Some(f) if families(f) => (f, args.drop(1).toSeq)
      case _ => ("query", args.toSeq)
    }
    family match {
      case "query"     => runQuery(rest)
      case "pair"      => runPair(rest)
      case "cc"        => runCc(rest)
      case "inc"       => runInc(rest)
      case "pmi"       => runPmi(rest)
      case "sem"       => runSem(rest)
      case "pairstage" => runPairStage(rest)
      case "distill"   => runDistill(rest)
      case "flagship"  => runFlagship(rest)
    }
  }

  private def envReps(default: Int): Int =
    sys.env.getOrElse("SPARK_GRAFT_REPS", default.toString).toInt

  /** One interleaved measurement cell: a (dir, leg) pair whose `run`
    * returns the action's row count. */
  private case class Cell(dir: String, leg: String, run: () => Long)

  /** The shared rep-major interleaved loop: times every cell in order
    * within each rep, emits one JSON line per (rep, cell) with epoch
    * bounds for event-log attribution, and returns the per-cell rep
    * vectors keyed (dir, leg). */
  private def runCells(spark: SparkSession, family: String, reps: Int,
      cells: Seq[Cell], extraRepFields: String = "")
      : collection.Map[(String, String), Vector[Double]] = {
    val times = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), Vector[Double]].withDefaultValue(Vector.empty)
    for (rep <- 1 to reps; c <- cells) {
      val e0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val n = c.run()
      val secs = (System.nanoTime() - t0) / 1e9
      val e1 = System.currentTimeMillis()
      times((c.dir, c.leg)) = times((c.dir, c.leg)) :+ secs
      println(f"""{"leg_rep":$rep,"family":"$family","dir":"${c.dir}","leg":"${c.leg}"$extraRepFields,"rows":$n,"secs":$secs%.3f,"t0_ms":$e0,"t1_ms":$e1}""")
      spark.catalog.clearCache()
      System.gc() // shuffle-file hygiene — see the object scaladoc
    }
    times
  }

  /** The shared medians tail line (`Bench`'s consumption pattern plus
    * `medians_min` and `per_rep`). `metric` keeps each family's
    * historical name so committed artifacts read uniformly. */
  private def mediansLine(metric: String, reps: Int,
      times: collection.Map[(String, String), Vector[Double]],
      extra: String = ""): Unit = {
    val keys = times.keys.toSeq
    def label(k: (String, String)) = s"${k._1}#${k._2}"
    def med(xs: Vector[Double]) = BenchStats.median(xs)
    println(s"""{"metric":"$metric","reps":$reps,$extra""" +
      "\"medians\":{" + keys.map(k => f""""${label(k)}":${med(times(k))}%.3f""").mkString(",") + "}," +
      "\"medians_min\":{" + keys.map(k => f""""${label(k)}":${times(k).min}%.3f""").mkString(",") + "}," +
      "\"per_rep\":{" + keys.map(k => s""""${label(k)}":[${times(k).map(t => f"$t%.3f").mkString(",")}]""").mkString(",") + "}}")
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
    * and is unaffected). `SPARK_GRAFT_WARMUP=0` disables, restoring
    * the historical cold protocol. */
  private def runQuery(dirs0: Seq[String]): Unit = {
    val dirs = if (dirs0.nonEmpty) dirs0
               else Seq("target/sf1x", "target/sf10x_docs")
    val queries = sys.env.getOrElse("SPARK_GRAFT_ONLY",
      sys.error("set SPARK_GRAFT_ONLY to a comma list of query names"))
      .split(",").toSeq
    val reps = envReps(5)
    val warm = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    val spark = GraftSession.local(GraftSession.envCpus)
    val cells = for (d <- dirs; q <- queries) yield Cell(d, q, () =>
      CacheScope.scoped { SparkEntry.queries(q)(spark, d).count() })
    if (warm) for (c <- cells) {
      val t0 = System.nanoTime()
      val n = c.run()
      println(f"""{"leg_warmup":true,"family":"query","dir":"${c.dir}","leg":"${c.leg}","rows":$n,"secs":${(System.nanoTime() - t0) / 1e9}%.3f}""")
      spark.catalog.clearCache()
      System.gc()
    }
    val times = runCells(spark, "query", reps, cells)
    mediansLine("leg_medians", reps, times, extra = s""""warmup":$warm,""")
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
    * switch with the per-leg slope. */
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
    val recallDir = sys.env.get("SPARK_GRAFT_PAIR_RECALL")
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
          Some((f, if (f == "default") "1.5e9" else f))
        }
      }

    val cells = for (d <- dirs; (leg, fn) <- legs; fence <- fences) yield {
      val (suffix, set) = fence match {
        case None => ("", () => ())
        case Some((name, v)) => (s"@$name", () =>
          spark.conf.set(text.Dedup.VerifyBroadcastBytesKey, v))
      }
      Cell(d, leg + suffix, () => { set(); fn(d) })
    }
    val times = runCells(spark, "pair", reps, cells,
      extraRepFields = s""","budget":$budget""")
    // the fence pins are cell-scoped A/B state: without this unset the
    // recall run below (and anything after the rep loop) would execute
    // under whichever fence happened to run last — order-dependent
    spark.conf.unset(text.Dedup.VerifyBroadcastBytesKey)

    val recall = recallDir.map { dir =>
      CacheScope.scoped {
        val sh = CacheScope.persist(text.Dedup.shingles(docs(dir)))
        val exact = CacheScope.persist(
          text.Dedup.prefixJaccardPairs(sh, threshold = 0.5)
            .select(col("da"), col("db")))
        val capped = text.Dedup.prefixJaccardPairs(sh, threshold = 0.5,
          pairBudgetPerDoc = Some(budget)).select(col("da"), col("db"))
        val nExact = exact.count()
        val nHit = capped.join(exact, Seq("da", "db"), "left_semi").count()
        (dir, nExact, nHit)
      }
    }
    mediansLine("pair_leg_medians", reps, times,
      extra = s""""budget_per_doc":$budget,""" +
        recall.map { case (d, ne, nh) =>
          f""""prefix_recall":{"dir":"$d","exact_pairs":$ne,"hit":$nh,"recall":${if (ne == 0) 1.0 else nh.toDouble / ne}%.4f},"""
        }.getOrElse(""))
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
    val modes = sys.env.get("SPARK_GRAFT_CC_MODES")
      .orElse(sys.env.get("SPARK_GRAFT_CC_SMALL_MAX"))
      .getOrElse("adaptive").split(",").toSeq
    def bound(mode: String): Long =
      if (mode == "adaptive") 1L << 22 else mode.toLong
    val spark = GraftSession.local(GraftSession.envCpus)
    val edges = scala.collection.mutable.Map.empty[String, Long]
    val cells = for (d <- dirs; m <- modes) yield Cell(d, m, () =>
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
    val times = runCells(spark, "cc", reps, cells)
    mediansLine("cc_leg_medians", reps, times,
      extra = s""""modes":[${modes.map(m => s""""$m"""").mkString(",")}],""" +
        "\"directed_edges\":{" + dirs.map(d =>
          s""""$d":${edges.getOrElse(d, -1L)}""").mkString(",") + "},")
    spark.stop()
  }

  // ------------------------------------------------------------------ inc

  /** Incremental LSH dedup's two cost components (the production split
    * the registered query can't show): the ONE-TIME corpus band-index
    * build per stored form (plain parquet vs the bucketed sink on the
    * corpus-leg join key) and the recurring per-increment
    * `incrementalLshDedup` against each form. */
  private def runInc(dirs0: Seq[String]): Unit = {
    val dirs = if (dirs0.nonEmpty) dirs0
               else Seq("target/sf1x", "target/sf10x_de")
    val reps = envReps(5)
    val spark = GraftSession.local(GraftSession.envCpus)

    val parquetIdx = scala.collection.mutable.Map.empty[String, String]
    val bucketIdx = scala.collection.mutable.Map.empty[String, DataFrame]
    val buildSecs = scala.collection.mutable.Map.empty[(String, String), Double]
    for (dir <- dirs) {
      val out = sources.Stage.forInput("inc_index", dir)
      def corpusIndex = text.Dedup.bandIndex(text.Dedup.minhashSignatures(
        text.Dedup.shingles(sources.Tables.load(spark, dir, "documents")
          .where(col("doc_id") % 4 =!= 0))))
      val t0 = System.nanoTime()
      CacheScope.scoped {
        corpusIndex.write.mode("overwrite").parquet(out)
      }
      buildSecs((dir, "parquet")) = (System.nanoTime() - t0) / 1e9
      parquetIdx(dir) = out
      val t1 = System.nanoTime()
      // no scope: the staged table must outlive this block (the rep
      // loop reads it); the session owns it — bench JVMs are dedicated
      bucketIdx(dir) = sources.Bucketing.stageBucketed(corpusIndex,
        "incidx_" + dir.replaceAll("[^A-Za-z0-9._-]", "_"),
        spark.sessionState.conf.numShufflePartitions,
        Seq("band_idx", "band_val"))
      buildSecs((dir, "bucketed")) = (System.nanoTime() - t1) / 1e9
      println(f"""{"inc_index_build":"$dir","parquet_secs":${buildSecs((dir, "parquet"))}%.3f,"bucketed_secs":${buildSecs((dir, "bucketed"))}%.3f}""")
    }

    val forms: Seq[(String, String => DataFrame)] = Seq(
      "parquet" -> (dir => spark.read.parquet(parquetIdx(dir))),
      "bucketed" -> (dir => bucketIdx(dir)))
    val cells = for (d <- dirs; (form, idx) <- forms) yield Cell(d, form,
      () => CacheScope.scoped {
        text.Dedup.incrementalLshDedup(
          sources.Tables.load(spark, d, "documents")
            .where(col("doc_id") % 4 === 0),
          idx(d)).count()
      })
    val times = runCells(spark, "inc", reps, cells)
    val keys = dirs.flatMap(d => forms.map { case (f, _) => (d, f) })
    mediansLine("inc_leg_medians", reps, times,
      extra = "\"index_build\":{" + keys.map(k =>
        f""""${k._1}#${k._2}":${buildSecs(k)}%.3f""").mkString(",") + "},")
    spark.stop()
  }

  // ------------------------------------------------------------------ pmi

  /** PMI's vocabulary-BOUNDED operating mode at a production budget
    * (`q_text_pmi_capped` pins the cap semantics at V = 16; this leg
    * measures the SCALING at V = `SPARK_GRAFT_PMI_TOPV` on the
    * Heaps/Zipf corpora where uncapped PMI's distinct-pair space grows
    * ~V² with the corpus — measured 1.02 min-protocol, round 11). */
  private def runPmi(dirs0: Seq[String]): Unit = {
    val dirs = if (dirs0.nonEmpty) dirs0
               else Seq("target/zipf50k", "target/zipf500k")
    val reps = envReps(5)
    val topV = sys.env.getOrElse("SPARK_GRAFT_PMI_TOPV", "4096").toLong
    val maxDf: Option[Double] =
      sys.env.get("SPARK_GRAFT_PMI_MAXDF").map(_.trim.toLowerCase) match {
        case None => Some(0.5)
        case Some("") | Some("none") | Some("off") => None
        case Some(v) =>
          val d = try v.toDouble catch {
            case _: NumberFormatException => sys.error(
              s"SPARK_GRAFT_PMI_MAXDF must be a fraction in (0,1], " +
              s"'none'/'off'/empty for unbanded — got '$v'")
          }
          require(d > 0 && d <= 1,
            s"SPARK_GRAFT_PMI_MAXDF must be in (0,1], got $d")
          Some(d)
      }
    val spark = GraftSession.local(GraftSession.envCpus)
    val cells = dirs.map(d => Cell(d, "pmi", () => CacheScope.scoped {
      text.TextAnalysis.pmi(sources.Tables.load(spark, d, "documents"),
        topV = Some(topV), maxDfFrac = maxDf).count()
    }))
    val times = runCells(spark, "pmi", reps, cells,
      extraRepFields = s""","top_v":$topV""")
    mediansLine("pmi_leg_medians", reps, times,
      extra = s""""top_v":$topV,""")
    spark.stop()
  }

  // ------------------------------------------------------------------ sem

  /** SemDeDup's scale mode (constant target cluster SIZE, k ∝ n — the
    * paper runs k = 11k on 440M embeddings for the same reason), cost
    * components reported separately because they scale differently:
    * `fit` (bounded-sample codebook training), `assign_flat` vs
    * `assign_twolevel` (the full nearest-centroid pass measured BOTH
    * ways on the same trained centroids — outputs provably identical,
    * [[graft.similarity.Kmeans.assignTwoLevel]]), `fit_assign` (fit +
    * whichever assign the SHIPPED adaptive dispatch takes at that
    * (n, k)), and `pairs` (the within-cluster cosine self-join — the
    * LINEAR term SemDeDup's sharding buys). `k_trained` is reported
    * alongside the requested k: the fixture chain's vec_ids are
    * copy-offset, so at large k the vec_id < k seeding can find fewer
    * rows than k. This family keeps a bespoke rep loop — one run
    * yields all five component timings — but shares the medians
    * protocol. */
  private def runSem(dirs0: Seq[String]): Unit = {
    val dirs = if (dirs0.nonEmpty) dirs0
               else Seq("/root/testdata/sf0.1", "target/sf1x", "target/sf10x_de")
    val reps = envReps(5)
    val tau = 0.35
    val workBudget = 4e8 // mirror assignTwoLevel's default
    val spark = GraftSession.local(GraftSession.envCpus)

    val times = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), Vector[Double]].withDefaultValue(Vector.empty)
    for (rep <- 1 to reps; dir <- dirs) {
      val e0 = System.currentTimeMillis()
      CacheScope.scoped {
        val emb = sources.Tables.load(spark, dir, "embeddings")
        val n = emb.count()
        val k = math.max(8L, n / 625).toInt
        // the fit sample must hold at least k vectors: Kmeans.fit seeds
        // from vec_id < k, so a hard 4096 cap would silently train
        // fewer centroids than the leg reports once n > 2.56M
        val fitSample = math.max(4096, k)
        val t0 = System.nanoTime()
        val cents = similarity.Kmeans
          .fit(emb.filter(col("vec_id") < fitSample), k, iters = 2)
          .select(col("cid"), col("cv")).localCheckpoint()
        val kTrained = cents.count()
        val tFit = (System.nanoTime() - t0) / 1e9
        val p = CacheScope.persist(similarity.Knn.prepared(emb))
        p.count()
        val t1 = System.nanoTime()
        val flatAsg = CacheScope.persist(similarity.Kmeans.assign(p, cents))
        flatAsg.count()
        val tFlat = (System.nanoTime() - t1) / 1e9
        // forced two-level (workBudget = 0) wherever k clears the
        // tiny-k floor — the A/B leg; identical output by construction
        val tTwo = if (kTrained > 64) {
          val t2 = System.nanoTime()
          similarity.Kmeans.assignTwoLevel(p, cents, workBudget = 0.0).count()
          Some((System.nanoTime() - t2) / 1e9)
        } else None
        // shipped-path composite: what the adaptive dispatch runs
        val tFitAssign = tFit + (
          if (kTrained <= 64 || n.toDouble * kTrained <= workBudget) tFlat
          else tTwo.getOrElse(tFlat))
        val t3 = System.nanoTime()
        val asg = flatAsg.join(p, "vec_id")
        val a = asg.select(col("cid"), col("vec_id").as("va"),
          col("e").as("qe"), col("nrm").as("qn"))
        val b = asg.select(col("cid"), col("vec_id").as("vb"),
          col("e").as("ce"), col("nrm").as("cn"))
        val nPairs = a.join(b, Seq("cid"))
          .filter(col("va") < col("vb"))
          .filter(expr("dot_f64(qe, ce)") / (col("qn") * col("cn")) >= tau)
          .count()
        val tPairs = (System.nanoTime() - t3) / 1e9
        times((dir, "fit")) = times((dir, "fit")) :+ tFit
        times((dir, "assign_flat")) = times((dir, "assign_flat")) :+ tFlat
        tTwo.foreach { t =>
          times((dir, "assign_twolevel")) = times((dir, "assign_twolevel")) :+ t }
        times((dir, "fit_assign")) = times((dir, "fit_assign")) :+ tFitAssign
        times((dir, "pairs")) = times((dir, "pairs")) :+ tPairs
        val e1 = System.currentTimeMillis()
        println(f"""{"leg_rep":$rep,"family":"sem","dir":"$dir","n":$n,"k":$k,"k_trained":$kTrained,"dup_pairs":$nPairs,"fit_secs":$tFit%.3f,"assign_flat_secs":$tFlat%.3f,"assign_twolevel_secs":${tTwo.map(t => f"$t%.3f").getOrElse("null")},"fit_assign_secs":$tFitAssign%.3f,"pairs_secs":$tPairs%.3f,"t0_ms":$e0,"t1_ms":$e1}""")
      }
      spark.catalog.clearCache()
      System.gc() // shuffle-file hygiene — see the object scaladoc
    }
    mediansLine("sem_leg_medians", reps, times)
    spark.stop()
  }

  // ------------------------------------------------------------ pairstage

  /** Stage-attribution probe for the capped containment pipeline —
    * times each stage of the PRODUCTION dataflow separately so a
    * superlinear wall reading on a leg pair can be pinned to the stage
    * that produced it (round 12's 4.6× residual needed per-stage
    * numbers). Calls [[graft.text.Dedup.cappedCandidateStages]] and
    * [[graft.text.Dedup.verifiedCommon]] directly — no inlined mirror
    * of the dataflow remains anywhere (the r15 docHashSetsProbe
    * lesson), so a production change is automatically what this probe
    * measures. The verify is timed under all three dispatches by
    * pinning the fence around the dispatch's OWN size estimates:
    * `huge` → single-phase 64-bit broadcast, the midpoint of
    * (est32, est64) → the round-17 two-phase broadcast octave, `0` →
    * the bucketed two-phase form. Usage:
    * `runMain graft.LegBench pairstage <dir> [budget]`. */
  private def runPairStage(args: Seq[String]): Unit = {
    val dir = args.headOption.getOrElse("target/sf10x_docs")
    val budget = args.lift(1).map(_.toLong).getOrElse(16L)
    val minCap = args.lift(2).map(_.toLong).getOrElse(10L)
    val threshold = 0.5
    val spark = GraftSession.local(GraftSession.envCpus)
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"""{"probe_stage":"$name","dir":"$dir","secs":${(System.nanoTime() - t0) / 1e9}%.3f}""")
      r
    }
    CacheScope.scoped {
      val docs = sources.Tables.load(spark, dir, "documents")
      val (hp, dfreq, cap, cands0) = text.Dedup.cappedCandidateStages(
        text.Dedup.shingles(docs), dfQuantile = 0.99, minCap = minCap,
        pairBudgetPerDoc = budget)
      t("hashed_postings_persist") { hp.count() }
      t("dfreq") { dfreq.count() }
      t("cap_scalar") { cap.count() }
      val cands = CacheScope.persist(cands0)
      val nCands = t("candidates_distinct") { cands.count() }
      println(s"""{"probe_info":"n_candidates","dir":"$dir","value":$nCands}""")
      val hs = CacheScope.persist(text.Dedup.docHashSets(hp))
      t("hashsets_persist") { hs.count() }
      // the dispatch's own estimates, so each fence pin is guaranteed
      // to land in the intended octave on THIS corpus
      val r = hs.agg(count(lit(1)), coalesce(sum(col("n")), lit(0L))).head()
      val (rows, postings) = (r.getLong(0), r.getLong(1))
      val (est32, est64) = (rows * 48L + postings * 4L, rows * 48L + postings * 8L)
      println(s"""{"probe_info":"estimates","dir":"$dir","est32":$est32,"est64":$est64}""")
      val gate = (c: Column, na: Column, nb: Column) =>
        c.cast("double") / least(na, nb) >= threshold
      def verify(): Long =
        text.Dedup.verifiedCommon(hp, cands, gate)
          .filter(gate(col("n_common"), col("na"), col("nb"))).count()
      val allDispatches = Seq(
        "verify_bucketed_shj" -> "0",
        "verify_broadcast32_twophase" -> ((est32 + est64) / 2).toString,
        "verify_broadcast64" -> (est64 + 1L).max(2L * est64).toString)
      // SPARK_GRAFT_PAIRSTAGE_DISPATCHES: comma list of bucketed|b32|b64
      // — on a corpus whose est64 exceeds what the heap can broadcast
      // (sf100x killed the 64-bit build at 64 g) the infeasible leg is
      // skipped EXPLICITLY instead of crashing the probe mid-run
      val wantD = sys.env.get("SPARK_GRAFT_PAIRSTAGE_DISPATCHES")
        .map(_.split(",").map(_.trim).toSet)
      val dispatches = allDispatches.filter { case (name, _) =>
        wantD.forall(w => w.exists(tag => name.contains(tag match {
          case "b32" => "broadcast32"
          case "b64" => "broadcast64"
          case other => other
        })))
      }
      for ((name, fence) <- dispatches) {
        spark.conf.set(text.Dedup.VerifyBroadcastBytesKey, fence)
        val n = t(name) { verify() }
        println(s"""{"probe_info":"n_pairs","dispatch":"$name","dir":"$dir","value":$n}""")
      }
      spark.conf.unset(text.Dedup.VerifyBroadcastBytesKey)
    }
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
    * composition seam is persisted + counted, and a delta clock
    * charges everything since the previous seam (driver-side segments
    * like `Distill.trainGate`'s GD rounds included) to the seam's
    * stage name. The terminal packing count is recorded as `s10_pack`
    * and the rep's stage sum as `total`. Attribution-mode caveat: each
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
    val times = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), Vector[Double]].withDefaultValue(Vector.empty)
    for (rep <- 1 to reps; d <- dirs) {
      CacheScope.scoped {
        val repEpoch0 = System.currentTimeMillis()
        var lastNs = System.nanoTime()
        var lastEpoch = repEpoch0
        var repTotal = 0.0
        def record(name: String, rows: Long): Unit = {
          val secs = (System.nanoTime() - lastNs) / 1e9
          val nowEpoch = System.currentTimeMillis()
          times((d, name)) = times((d, name)) :+ secs
          repTotal += secs
          println(f"""{"leg_rep":$rep,"family":"flagship","dir":"$d","leg":"$name","rows":$rows,"secs":$secs%.3f,"t0_ms":$lastEpoch,"t1_ms":$nowEpoch}""")
          lastNs = System.nanoTime()
          lastEpoch = System.currentTimeMillis()
        }
        val probe: graft.text.Pipelines.StageProbe = (name, df) => {
          val p = CacheScope.persist(df)
          record(name, p.count())
          p
        }
        val out = Flagship.curationPipeline(spark, d, probe = probe)
        record("s10_pack", out.count())
        times((d, "total")) = times((d, "total")) :+ repTotal
        println(f"""{"leg_rep":$rep,"family":"flagship","dir":"$d","leg":"total","rows":0,"secs":$repTotal%.3f,"t0_ms":$repEpoch0,"t1_ms":${System.currentTimeMillis()}}""")
      }
      spark.catalog.clearCache()
      System.gc() // shuffle-file hygiene — see the object scaladoc
    }
    mediansLine("flagship_stage_medians", reps, times)
    spark.stop()
  }

  // -------------------------------------------------------------- distill

  /** Hyper-parameter probe for `Distill.distillGate` — accuracy vs the
    * majority-class base rate on a fixture dir. Diagnostics only. */
  private def runDistill(args: Seq[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(GraftSession.envCpus)
    val docs = sources.Tables.load(spark, dir, "documents")
    val gate = text.TextAnalysis.gopherMetrics(10, 1000, 2.0, 10.0, 0.2, 0.2).last
    for ((it, lr) <- Seq((20, 16.0))) {
      CacheScope.scoped {
        val out = text.Distill.distillGate(docs, gate, dim = 64,
          iters = it, lr = lr)
        val r = out.agg(avg(col("label")), avg(col("correct")),
          avg(col("predicted"))).head()
        println(f"""{"distill_probe":{"iters":$it,"lr":$lr,"pos_rate":${r.getDouble(0)}%.4f,"acc":${r.getDouble(1)}%.4f,"pred_rate":${r.getDouble(2)}%.4f}}""")
      }
    }
    spark.stop()
  }
}
