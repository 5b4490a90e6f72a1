package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric","value","unit","queries","sf"[,"errors"]}.
  * Headline set spans every family: scan-agg, star join, window, CDC
  * apply/replay, near-dup (exact + LSH), ANN, text scoring, sessionize.
  *
  * Honesty rules (round-3 verdict): a failing query is REPORTED (per-query
  * -1 + an "errors" map + non-zero exit), never silently timed as fast;
  * each query runs twice and keeps the min, because this box's wall times
  * vary ±50% under load — the min of 2 tracks plan cost, the mean tracks
  * machine noise.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q01_pricing_agg", "q03_join_agg", "q05_multijoin", "q07_window_rank",
    "c02_wal_envelope", "c04_apply_latest", "c08_snapshot_plus_wal",
    "s01_tumbling_window", "s02_sessionize",
    "d01_exact_dedup", "d02_ngram_jaccard", "d03_minhash_lsh",
    "v01_knn_brute", "t02_quality", "t03_token_count", "m01_binary_meta")

  /** Extended panel: post-round-1 machinery the frozen headline set
    * cannot see (round-11 lesson: a rank-machinery rewrite showed up
    * in NO headline number) — the adaptive-bucket rank/Pareto lanes,
    * bootstrap resampling, span dedup, IVF-PQ ANN, the pipeline
    * funnel. Since r13 the default (driver) run times it too and emits
    * it as a separate "extended" map in the JSON line, so round-over-
    * round regressions in post-round-1 machinery are mechanically
    * diffable from BENCH_r*.json alone (r12 verdict task 7);
    * `runMain graft.Bench extended` still runs it standalone.
    */
  val extended: Seq[String] = Seq(
    "q66_abc_analysis", "q78_auc", "q89_spearman", "q90_ks",
    "q99_abc_xyz", "q110_pareto_drift", "t34_zipf_fit",
    "q101_bootstrap_ci", "d18_span_dedup", "v28_ivfpq",
    "t52_pipeline_funnel", "t53_budget_waterfill", "m17_phash_neardup",
    // r13 third-session machinery worth tracking round-over-round:
    // d28 re-runs the d02 shingle join under the estimator, q118 is
    // the calendar-axis sequential-test scan, q119 the 4-cell DiD join
    "d28_dup_estimate", "q118_sprt", "q119_did",
    // r16 optimization: q37's boundary row moved from the exact
    // Percentile buffer (executor OOM + single-task merge at sf5) to
    // the distributed rank machinery — 4.4x at sf5 local; tracked here
    // so a regression in that machinery is visible round-over-round
    "q37_decile_profile",
    // r17 (r16 verdict item 4): q52 (three exactQuantiles calls + probe)
    // and q53 (chained median→MAD calls) exercise the shared
    // exactQuantiles machinery hardest — tracked so a reuse/plan-shape
    // regression in it is visible round-over-round. Additive only.
    "q52_rfm", "q53_mad_outliers")

  // min-of-3: round-7's driver run landed +29% over round-6 on byte-
  // identical headline code — pure box noise; a third run tightens the
  // min estimator at ~30s extra driver cost.
  val Runs = 3

  def main(args: Array[String]): Unit = {
    // default (driver) run: headline TIMES AND TOTALS exactly as in
    // every prior round ("value" stays headline-only for cross-round
    // comparability), plus the extended panel as a separate map
    val (names, extraNames) = args.toSeq match {
      case Seq("extended") => (extended, Nil)
      case Seq() => (headline, extended)
      case other => (other, Nil)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    // Dev-only override: SPARK_GRAFT_MASTER=local-cluster[4,8,16384] runs
    // the same bench against separate executor JVMs (real serialized
    // shuffles / broadcasts) — evidence for the multi-executor story that
    // plain local[n] cannot give. Driver runs always use the default.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      // single-digit-MB..100MB single-file tables (this box's parquet)
      // otherwise scan as ONE split at the default 128m — the heavy
      // pre-shuffle projections (explode+hash over documents) then run
      // single-threaded regardless of core count (found at sf5: d18
      // slower than at sf10 because 75MB = 1 split, 150MB = 2). 16m
      // keeps scans parallel here; a real corpus arrives as many files
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm the JVM/codegen paths once on the smallest query
    SparkEntry.queries("q01_pricing_agg")(spark, sfDir).count()

    // insertion-ordered, so the compact line's "first" errors are the
    // first to occur
    var errors = scala.collection.immutable.ListMap.empty[String, String]
    def timePanel(panel: Seq[String], runs: Int): Seq[(String, Seq[Double])] =
      panel.map { name =>
        val fn = SparkEntry.queries(name)
        val times = (1 to runs).flatMap { _ =>
          if (errors.contains(name)) None // fail fast after the first error
          else {
            // lanes persist() shared panels lazily; clear BEFORE timing
            // so every run pays the full cost (a warm cache from the
            // previous run would make min-of-3 measure cache reads)
            spark.catalog.clearCache()
            val t0 = System.nanoTime()
            try {
              fn(spark, sfDir).count()
              Some((System.nanoTime() - t0) / 1e9)
            } catch {
              case e: Throwable =>
                errors += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
                None
            }
          }
        }
        name -> times
      }
    // ANY failed run marks the query failed — a flaky query's one good
    // time is not trustworthy and must not enter the totals
    def minOf(raw: Seq[(String, Seq[Double])]): Seq[(String, Double)] =
      raw.map { case (name, times) =>
        name -> (if (times.isEmpty || errors.contains(name)) -1.0 else times.min)
      }
    def mapJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // Per-run raw times make a noisy-box artifact diagnosable from the
    // JSON alone (round-8 verdict: the driver's 27.85s reading needed a
    // judge re-run to prove it was contention — the spread of three runs
    // would have shown it immediately).
    def runsJsonOf(raw: Seq[(String, Seq[Double])]): String =
      raw.map { case (k, ts) =>
        // NOT f"%.3f": String.format is locale-sensitive (a comma decimal
        // separator would corrupt the JSON); Double.toString is not
        "\"" + k + "\":" + ts.map(t => (math.rint(t * 1000) / 1000).toString)
          .mkString("[", ",", "]")
      }.mkString("{", ",", "}")

    val raw = timePanel(names, Runs)
    val results = minOf(raw)
    val qs = mapJson(results)
    val runsJson = runsJsonOf(raw)
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // extended panel: min-of-3 AFTER a discarded warm-up run (round-13
    // verdict: min-of-2 read t34 as [78.46, 2.19] — a 36× spread leaves
    // a regression gate unable to catch a real 2× or clear a false one;
    // the first run pays first-touch page-cache and codegen costs that
    // are not plan cost, so it is timed but dropped)
    var extRunsJson = "{}"
    val extMins: Seq[(String, Double)] =
      if (extraNames.isEmpty) Nil
      else {
        // extended_runs carries ALL four timings (warm-up included) so
        // the artifact is diagnosable on its own; only the min drops
        // the first run
        val rawX = timePanel(extraNames, Runs + 1)
        extRunsJson = runsJsonOf(rawX)
        minOf(rawX.map { case (n, ts) => n -> (if (ts.length > 1) ts.tail else ts) })
      }
    val extraJson =
      if (extraNames.isEmpty) ""
      else s""","extended":${mapJson(extMins)},"extended_runs":$extRunsJson"""
    def jsonEscape(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x" // control chars (RFC 8259)
      case c => c.toString
    }
    def errorsJson(es: Iterable[(String, String)]): String =
      if (es.isEmpty) ""
      else es.map { case (k, v) => "\"" + k + "\":\"" + jsonEscape(v) + "\"" }
        .mkString(",\"errors\":{", ",", "}")
    val errJson = errorsJson(errors)
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$runsJson$extraJson,"sf":"$sfDir"$errJson}""")
    // r17 (r16 verdict item 2): the driver captures only the LAST ~2000
    // chars of output, and the full line above has grown past that (it
    // embeds runs/extended_runs) — its head is cut before parsing, which
    // is why BENCH_r01..r16 all carry parsed:null. Print a COMPACT line
    // LAST (3-decimal values, no runs arrays, ~1.1KB with both maps) so a
    // complete {"metric",...} object always sits inside the tail window.
    // Same fields and meaning as the r13+ contract line; the full line
    // above is kept for diagnosability. Additive, harness-comparison-safe.
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val compactQs = mapJson(results.map { case (k, v) => k -> r3(v) })
    val compactExt =
      if (extraNames.isEmpty) ""
      else s""","extended":${mapJson(extMins.map { case (k, v) => k -> r3(v) })}"""
    // the compact line carries only the first 2 errors, cut to 60
    // chars, plus the error count — the full map is on the line above
    val compactErr =
      if (errors.isEmpty) ""
      else errorsJson(errors.take(2).map { case (k, v) => k -> v.take(60) }) +
        s""","n_errors":${errors.size}"""
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$compactQs$compactExt,"sf":"$sfDir"$compactErr}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
