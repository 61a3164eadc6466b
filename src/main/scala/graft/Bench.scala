package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main. Times the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Each query is fully materialized through the `noop` sink (a bare
  * `count()` would let Catalyst prune the projection and undercount the
  * real work). One untimed warmup pass amortizes JIT + file-listing so the
  * timed numbers reflect steady-state executor throughput.
  *
  * FAILURE-HONEST: a query that throws mid-pass is recorded as failed —
  * its value renders as -1, it is excluded from the total, and its name
  * lands in the "errors" list. Round 9's harness swallowed exceptions, so
  * a query breaking after 0.1 s looked like a 0.1 s speedup — the exact
  * inversion a regression harness exists to prevent.
  *
  * WALL-TIME BUDGET (round-over-round accounting rule): the suite total
  * may grow ONLY with new or promoted headline rows. When comparing
  * BENCH_r{N} to BENCH_r{N-1}, a total growing >25% on the COMMON row
  * set (same query names) is a regression to investigate, not headline
  * growth to wave through — subtract the new rows' medians first, then
  * compare. New rows are an explicit per-round decision (the `headline`
  * flag in each GraftQuery), never a side effect.
  */
object Bench {

  /** The heavy dedup family gets extra timed passes: at 3 passes their
    * box-noise spreads (±4 s on q32 in round 9) made round-over-round
    * deltas unjudgeable at the ±25% level. */
  private[graft] val heavyExtraPasses = 2
  private[graft] val heavy = Set("q27_substring_dedup", "q28_dup_spans",
    "q29_decontaminate", "q30_minhash_lsh_dedup", "q31_simhash_dedup",
    "q32_ngram_jaccard_dedup", "q36_dedup_resolve", "q52_strip_dup_spans")

  /** TRACKED-ONLY tier (round-16 demotion): long-stable rows whose
    * medians sat under 0.45 s in TWO consecutive rounds (r15 + r16) —
    * at that level the box's scheduling noise is bigger than any change
    * the row could detect, so the headline budget pays 3–5 passes each
    * for no regression signal. Demoted rows still run ONE timed pass
    * per round, reported under "tracked" and EXCLUDED from the headline
    * total (the budget-rule accounting: the r16 total drops by exactly
    * their removed medians, not by any code speedup). Never demote a
    * heavy-family row (their noise handling is the point) or a row
    * added in the current round (new rows earn stability first).
    * PROMOTE a tracked row back (remove it here) the round its tracked
    * sample exceeds 0.6 s.
    *
    * Second demotion category (round 17): a row SUPERSEDED by its
    * production spelling — q133's recompute decontam is demoted not for
    * stability but because q134 (the persisted-postings-index probe,
    * same output, same oracle) is the shape a recurring decontam
    * actually runs; keeping both at headline would double-bill the
    * family for one operator. The tracked pass still regression-guards
    * the recompute path every round.
    *
    * The per-round history of which rows were added, re-baselined or
    * demoted (rounds 18–20) is in SCALING.md, "Bench headline history". */
  private[graft] val demoted: Set[String] = Set(
    "q133_retrieval_decontam",
    "q138_minhash_decontam", "q145_multiprobe_ann",
    "q102_epoch_shuffle", "q103_packing_efficiency", "q104_repeat_tiers",
    "q106_frame_sample", "q108_snapshot_drift", "q110_classifier_auc",
    "q111_gram_matrix", "q114_calibration_bins", "q117_corpus_profile_approx",
    "q120_domain_reweight", "q12_monthly_orders", "q34_knn_bruteforce",
    "q38_quantized_ann", "q49_file_provisioning", "q53_pack_sequences",
    "q59_stratified_split", "q60_weighted_sample", "q85_embedding_decontam",
    "q90_token_shards", "q91_domain_cap", "q98_snapshot_diff",
    "q99_quality_calibration")

  /** Times one run of `f`; never masks a failure as a fast success.
    * Only NON-fatal failures are recorded-and-continued: a fatal error
    * (OutOfMemoryError etc.) rethrows, because every sample taken on a
    * heap-exhausted JVM afterwards would be a clean-looking lie. */
  private[graft] def timeOne(f: => Unit): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok =
      try { f; true }
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] query failed: ${e.getMessage}")
          false
      }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  private[graft] def renderTracked(
      tracked: Seq[(String, Seq[Double], Boolean)]): String =
    tracked.map { case (k, samples, failed) =>
      "\"" + k + "\":" + (if (failed) "-1" else f"${median(samples)}%.2f")
    }.mkString("{", ",", "}")

  /** results = (name, samples, anyPassFailed), in headline order. */
  private[graft] def renderJson(
      results: Seq[(String, Seq[Double], Boolean)],
      tracked: Seq[(String, Seq[Double], Boolean)],
      passes: Int, sfDir: String): String = {
    val qs = results.map { case (k, samples, failed) =>
      "\"" + k + "\":" + (if (failed) "-1" else f"${median(samples)}%.3f")
    }.mkString("{", ",", "}")
    // Alongside the median, report each query's MIN sample: on a box whose
    // transients swing 5x, the min is the best available estimate of the
    // code's intrinsic cost (a transient can only ADD time), so a
    // round-over-round comparison of mins separates real regressions from
    // harness/tenant noise.
    val mins = results.map { case (k, samples, failed) =>
      "\"" + k + "\":" + (if (failed) "-1" else f"${samples.min}%.3f")
    }.mkString("{", ",", "}")
    val spreads = results.map { case (k, samples, _) =>
      "\"" + k + f"\":${samples.max - samples.min}%.3f"
    }.mkString("{", ",", "}")
    val errors = (results ++ tracked).filter(_._3).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    val total = results.filterNot(_._3).map(r => median(r._2)).sum
    val tr = renderTracked(tracked)
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"min":$mins,"spread":$spreads,"tracked":$tr,"errors":$errors,"passes":$passes,"sf":"$sfDir"}"""
  }

  /** Compact stdout line. The driver captures only the LAST ~2000 chars of
    * stdout and parses the final line as JSON; the full render with
    * min/spread maps crossed that window at 38+ headline queries, so
    * rounds 10-11 recorded parsed:null (the full JSON survives only in
    * bench_result.json). Keep this line minimal: 2-decimal medians, the
    * errors list, no min/spread. */
  private[graft] def renderCompactJson(
      results: Seq[(String, Seq[Double], Boolean)],
      tracked: Seq[(String, Seq[Double], Boolean)], sfDir: String): String = {
    def render(decimals: Int, keep: Seq[(String, Seq[Double], Boolean)],
        omitted: Int): String = {
      val qs = keep.map { case (k, samples, failed) =>
        "\"" + k + "\":" + (if (failed) "-1"
          else s"%.${decimals}f".format(median(samples)))
      }.mkString("{", ",", "}")
      val errors = (results ++ tracked).filter(_._3).map("\"" + _._1 + "\"")
        .mkString("[", ",", "]")
      val total = results.filterNot(_._3).map(r => median(r._2)).sum
      val omit = if (omitted > 0) s""","omitted_fastest":$omitted""" else ""
      val tr = renderTracked(tracked)
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs$omit,"tracked":$tr,"errors":$errors,"sf":"$sfDir"}"""
    }
    // stay safely inside the 2000-char tail as the registry grows:
    // drop per-query precision (2 → 1 decimals) first, then — honestly
    // marked — subset the map to failures + slowest entries. value/errors
    // are always complete; bench_result.json always carries everything.
    val two = render(2, results, 0)
    if (two.length <= 1900) two
    else {
      val one = render(1, results, 0)
      if (one.length <= 1900) one
      else {
        val ranked = results.sortBy { case (_, samples, failed) =>
          if (failed) Double.MinValue else -median(samples) }
        val keepN = Iterator.range(ranked.size, 0, -1)
          .find(n => render(1, ranked.take(n), ranked.size - n).length <= 1900)
          .getOrElse(1)
        render(1, ranked.take(keepN), ranked.size - keepN)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing keeps Spark's DEFAULT advisory sizes. Round 11
      // measured the alternative (minPartitionSize=64k + advisory=4m to
      // spread the heavy joins over all 32 cores): q32's candidate stage
      // gained 20% isolated, but the extra task-scheduling overhead
      // inflated the 30+ sub-second headline queries 20-80% each — total
      // 46.6 -> 55.3 s. On a tiny-data local bench, fewer bigger tasks
      // win; do not re-add the knobs without re-measuring the whole suite.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val headline = SparkEntry.registry.filter(q =>
      q.headline && !demoted(q.name))
    val trackedQs = SparkEntry.registry.filter(q =>
      q.headline && demoted(q.name))

    def runOnce(q: GraftQuery): Unit =
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // Warmups catch only NON-fatal failures, matching timeOne's policy: a
    // swallowed OutOfMemoryError here would leave every timed sample running
    // on a heap-exhausted JVM.
    headline.foreach { q =>
      try runOnce(q)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warmup ${q.name} failed: ${e.getMessage}")
      }
    }
    // The heavy dedup family needs a SECOND warmup: their compiled merge
    // kernels JIT across two executions (q32's first post-warmup pass
    // measured 11.8 s vs 3.9 s steady-state), and a single cold sample
    // would dominate the reported spread.
    headline.filter(q => heavy(q.name)).foreach { q =>
      try runOnce(q)
      catch { case scala.util.control.NonFatal(_) => () // already reported above
      }
    }
    // Median of the timed passes per query, PASS-MAJOR: run the whole
    // suite `passes` times (plus `heavyExtraPasses` more for the heavy
    // dedup family) and take each query's median ACROSS suite runs.
    // Query-major (Seq.fill(passes)(timed(q))) samples one query's passes
    // back-to-back, so a box transient (GC storm, noisy neighbor) poisons
    // ALL samples of that query — round 8's q30 swung 0.56→3.68 s on
    // byte-identical code. Interleaving spreads a transient across
    // different queries' single samples, which the per-query median then
    // discards. The reported spread (max-min across runs) keeps the noise
    // floor visible. Cache reset between runs keeps one pass's leftovers
    // out of the next's time.
    def timed(q: GraftQuery): (Double, Boolean) = {
      spark.catalog.clearCache()
      // clearCache() does NOT release localCheckpoint blocks — they live as
      // persistent RDDs outside the SQL cache and accumulate across the
      // 38-query suite, inflating later samples with block-store pressure +
      // GC (round 10's q01/q03/q31 read 2-5x their r9 medians on untouched
      // code). Sweep them blocking so every sample starts from a clean
      // block store.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      timeOne(runOnce(q))
    }
    val passes = math.max(3, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt).getOrElse(3))
    val baseRuns = (1 to passes).map(_ => headline.map(q => q.name -> timed(q)).toMap)
    val heavyQueries = headline.filter(q => heavy(q.name))
    val heavyRuns = (1 to heavyExtraPasses).map(_ =>
      heavyQueries.map(q => q.name -> timed(q)).toMap)
    val results = headline.map { q =>
      val samples = (baseRuns ++ heavyRuns).flatMap(_.get(q.name))
      (q.name, samples.map(_._1), samples.exists(s => !s._2))
    }
    // tracked tier: one warmup (shared with the headline loop above is
    // not possible — they are excluded there), one timed pass
    trackedQs.foreach { q =>
      try runOnce(q)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warmup ${q.name} failed: ${e.getMessage}")
      }
    }
    val tracked = trackedQs.map { q =>
      val (t, ok) = timed(q)
      (q.name, Seq(t), !ok)
    }
    val json = renderJson(results, tracked, passes, sfDir)
    // The driver parses the LAST stdout line as JSON and keeps only a
    // 2000-char stdout tail: stop Spark first so no shutdown logging
    // trails the line, print the COMPACT render (the full one overflowed
    // the tail window in rounds 10-11 — parsed:null), and persist the full
    // detail (min/spread/passes) to bench_result.json.
    spark.stop()
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_result.json"),
      (json + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => }
    println(renderCompactJson(results, tracked, sfDir))
  }
}
