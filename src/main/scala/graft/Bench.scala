package graft
import java.util.Locale

object Bench {
  /** The cross-run stability statistic (r14 item 3; r16 refinements):
    * given (cur, prev) per-query min pairs from two full runs of the
    * same sf, returns (host_shift, n_over_1p3, median_two_sided_ratio, n_compared).
    *
    *  - host_shift = MEDIAN per-query ratio cur/prev. Self-normalizing
    *    over all pairs — the probe-based calibAdj stays with the
    *    one-sided regression gate, where being conservative is correct;
    *    for a two-sided count it is biased (measured 30.1% vs 4.0% on
    *    one identical-code pair, DESIGN.md round-16 §7).
    *  - a query counts toward n_over_1p3 only if its two-sided ratio
    *    vs the shift-adjusted prev exceeds 1.3 AND the absolute delta
    *    exceeds the same 0.15 s noise floor the regression gate has
    *    carried since r12 — micro-query timer wobble is not drift.
    *
    * Pure function so CrossRunStatSpec can pin the arithmetic. */
  private[graft] def crossRunStat(
      pairs: Seq[(Double, Double)]): (Double, Int, Double, Int) = {
    val valid = pairs.filter { case (c, p) => c > 0 && p > 0 }
    if (valid.isEmpty) return (1.0, 0, 1.0, 0)
    val shifts = valid.map { case (c, p) => c / p }.sorted
    val hostShift = shifts(shifts.size / 2)
    val ratios = valid.map { case (cur, prev) =>
      val prevAdj = prev * hostShift
      (math.max(cur, prevAdj) / math.min(cur, prevAdj), math.abs(cur - prevAdj))
    }.sortBy(_._1)
    val over = ratios.count { case (r, d) => r > 1.3 && d > 0.15 }
    (hostShift, over, ratios(ratios.size / 2)._1, valid.size)
  }

  /** Representative queries whose per-query timings go into the printed
    * JSON line (one per operator family). The full per-query map is
    * written to BENCH_DETAIL.json: the driver's output-tail capture is
    * 2000 chars, and r01/r02 proved a line carrying all ~80 queries
    * overflows it (front-truncated → parsed:null). */
  private val headline = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q10_returned_items", "window_top3_orders_per_customer",
    "window_top3_orders_native_topk",
    "join_asof_last_click_before_error", "join_range_pairs_within_1h",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped", "dedup_minhash_estimate_quality",
    "dedup_minhash_incremental_delta", "stream_delta_dedup_minhash",
    "stream_stream_join_attribution", "stream_dedup_within_watermark",
    // round-11 waves E-H: State API v2, PQ/ADC, runtime adaptivity
    "stream_transform_with_state_live", "stream_tws_event_timers",
    "stream_tws_initial_state_live", "stream_session_window_live",
    "ann_pq_adc_topk", "scale_aqe_skew_join", "scale_runtime_bloom_filter",
    "graph_bfs_recursive_cte", "stats_ols_multiple_regression",
    "dedup_minhash_bbit_estimate", "ts_stl_weekday_decompose",
    "stats_theil_sen_mann_kendall", "sketch_quantile_subsample_merge",
    "dedup_embedding_cosine", "dedup_cluster_components",
    "pipeline_source_quota_topk", "pipeline_benchmark_decontaminate",
    "ann_cosine_topk_bruteforce", "ann_cosine_topk_ivf",
    "ann_cosine_topk_ivf_prebuilt", "ann_cosine_topk_hyperlsh_prebuilt",
    "text_tfidf_top_term", "text_winnow_fingerprint", "text_langid",
    "stream_sessionization_30m", "stream_hourly_windowed_agg",
    "npm_pipeline_replay_catalog", "npm_catalog_compaction_latest",
    "mm_feature_extract", "ts_gapfill_daily_orders",
    "scale_bloom_prune_join", "text_chunk_sliding",
    "agg_salted_two_stage", "pipeline_training_corpus_select",
    "ann_cosine_topk_ivf_multiprobe", "pipeline_shard_pack",
    "pipeline_training_order", "ann_ivf_assign_delta",
    "pipeline_filter_audit", "dedup_prefix_filter_jaccard",
    "dedup_containment", "dedup_duplicate_spans", "pipeline_span_dedup_cut",
    "dedup_winnow_candidates", "mm_phash_neardup", "scale_zorder_layout",
    "event_funnel_conversion", "audit_constraints", "pipeline_data_card",
    "graph_pagerank_bipartite", "join_pointintime_features",
    "sketch_countmin_heavyhitters", "sketch_kmv_distinct",
    "text_bigram_lm_quality", "text_search_conjunctive",
    "text_bpe_merge_pairs", "pipeline_temperature_mixture",
    "corpus_snapshot_diff", "mm_audio_energy_vad",
    "graph_bfs_reachability", "event_transition_matrix",
    "stats_winsorized_mean", "stats_ks_drift", "pipeline_pack_sequences",
    "pipeline_split_leakage_audit", "text_gini_diversity",
    "text_novelty_score", "sketch_kmv_set_ops", "event_rfm_segments",
    "event_peak_concurrency", "pipeline_dedup_funnel",
    "privacy_pii_scan", "privacy_pseudonymize_audit",
    "scale_two_stage_cumsum", "dedup_lsh_band_sweep",
    "search_tf_saturation", "search_hybrid_rrf", "graph_triangle_count",
    "cdc_changelog_merge", "scale_zonemap_prune", "text_vocab_growth",
    "stats_rank_sum_u", "stats_chi2_independence", "privacy_k_anonymity",
    "pipeline_rule_votes_label", "er_customer_dedup",
    "event_attribution_position", "sketch_join_size_estimate",
    "ts_anomaly_robust_mad", "graph_kcore_peel", "ts_seasonal_weekday",
    "ann_eval_mrr", "text_rake_keyphrases", "graph_link_prediction",
    "stream_cdc_merge_live", "mm_video_scene_cuts", "scale_join_skew_audit",
    "ts_trend_ols", "event_cumulative_uniques",
    "pipeline_quality_dup_calibration", "graph_brand_modularity",
    "audit_benford_first_digit", "text_bpe_apply_merge",
    "er_customer_components", "privacy_t_closeness", "scale_exact_quantiles",
    "scale_skew_salt_plan", "sample_uniform_fixed_k",
    "stream_kmv_distinct_live", "ann_ivf_kmeans_train",
    "scale_salted_replicated_join", "stats_bootstrap_ci_poisson",
    "pipeline_dsir_domain_votes", "ann_embedding_dim_drift",
    "text_vocab_oov_audit", "ann_rq_reconstruction_gain",
    "ann_ivfadc_topk", "sample_stratified_neyman", "event_markov_stationary",
    "text_tokenizer_fertility", "ann_knn_graph_greedy_search",
    "ann_ivfadc_prebuilt", "ann_ivfadc_batch_topk", "ann_knn_graph_greedy_batch")

  /** Single-threaded fixed-work CPU probe (~10^7 MurmurHash3 rounds over a
    * constant), timed like a query. Its seconds depend only on host speed,
    * never on any query plan, so cross-round totals can be normalized for
    * host drift (r7's driver host ran ~1.8× slower than r6's on unchanged
    * code; adjudicating that took a round of prose). Emitted as
    * `calibration` in both the printed line and BENCH_DETAIL.json.
    */
  private def calibrationProbe(): Double = {
    val t0 = System.nanoTime()
    var acc = 0
    var i = 0
    while (i < 10000000) {
      acc ^= scala.util.hashing.MurmurHash3.productHash((i, acc))
      i += 1
    }
    if (acc == 42) println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** 32-thread sibling of [[calibrationProbe]]: the same fixed work run
    * simultaneously on one thread per vCPU. Captures the host dimension
    * the single-threaded probe is blind to — this round's live sighting:
    * a noise wave where single-thread read 15% FASTER than the r12
    * baseline while a parallel probe measured only ~23 of 32 effective
    * cores, so serial calibration ADJUSTED THE WRONG WAY and a full-run
    * comparison flagged 92 phantom regressions on untouched code.
    * Emitted as `calibration_parallel`; when the PREVIOUS round's detail
    * carries it too, the regression gate adjusts by the more conservative
    * (larger) of the two host ratios.
    */
  private def calibrationProbeParallel(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val threads = (0 until n).map { t =>
      new Thread(() => {
        var acc = t
        var i = 0
        while (i < 10000000) {
          acc ^= scala.util.hashing.MurmurHash3.productHash((i, acc))
          i += 1
        }
        if (acc == 42) print("") // defeat dead-code elimination
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** (steal ticks, total ticks) from /proc/stat's aggregate cpu line —
    * the hypervisor's own accounting of cycles this guest wanted but a
    * co-tenant got. The r14 probe saga ended here: the in-JVM parallel
    * probe oscillated 0.12-0.35 across runs while cgroup quotas read
    * unlimited; a /proc/stat delta around a saturating load measured
    * 12.5% steal (~19 of 32 effective cores) — host co-tenancy waves,
    * not JVM aging, not code. Emitting the run-long steal fraction
    * makes every future BENCH_DETAIL carry the ground truth the point
    * probes can only sample.
    */
  private[graft] def cpuStat(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val p = src.getLines().next().trim.split("\\s+")
      val vals = p.drop(1).take(8).map(_.toLong) // user..steal
      Some((vals(7), vals.sum))
    } finally src.close()
  } catch { case _: Throwable => None }

  /** LOADED steal probe — the capture-gate measurement the r17 protocol
    * discovered the hard way (DESIGN r17 §8): IDLE probes read ~0.01%
    * while loaded runs in the same minutes paid 0.95–3.2%, because an
    * idle guest requests few cycles and the hypervisor only accounts
    * steal on cycles actually requested. This probe spins one busy
    * thread per vCPU for `seconds` and measures the /proc/stat steal
    * delta AROUND the load — the same demand profile as a bench run.
    * Returns the steal percentage, None when /proc/stat is unreadable.
    */
  private[graft] def loadedStealProbe(seconds: Int = 20,
      threads: Int = Runtime.getRuntime.availableProcessors()): Option[Double] = {
    val s0 = cpuStat()
    if (s0.isEmpty) return None
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val spinners = (0 until threads).map { t =>
      val th = new Thread(() => {
        var acc = t
        while (!stop.get()) {
          acc ^= scala.util.hashing.MurmurHash3.productHash((acc, t))
        }
        if (acc == 42) print("") // defeat dead-code elimination
      })
      th.setDaemon(true); th.start(); th
    }
    try Thread.sleep(seconds * 1000L) finally stop.set(true)
    val s1 = cpuStat()
    spinners.foreach(_.join(1000))
    for ((a0, b0) <- s0; (a1, b1) <- s1 if b1 > b0)
      yield (a1 - a0) * 100.0 / (b1 - b0)
  }

  /** One corroboration re-run of a flagged query: the kept time is the
    * min of the first sample and the re-run, and the JSON value of the
    * flag's `corroborated` field is `true`. A re-run that throws yields
    * no second sample, so the first time stands and the field reads
    * `"failed"`. */
  private[graft] def corroborate(cur0: Double)(rerun: => Unit): (Double, String) = {
    val t0 = System.nanoTime()
    try { rerun; (math.min(cur0, (System.nanoTime() - t0) / 1e9), "true") }
    catch { case _: Throwable => (cur0, "\"failed\"") }
  }

  /** Capture-acceptance rule for baseline folds, pinned in code (r17
    * verdict item 5 — the rule lived only in DESIGN prose/scripts and a
    * future window could silently regress to idle probes): a capture
    * window is acceptable iff a LOADED probe (20 s × one thread per
    * vCPU) reads under 0.6% steal. `scripts/capture_baseline.sh` is the
    * loop that applies it; BENCH_DETAIL.json carries the probe reading
    * as `probe_mode`/`probe_steal_pct`/`probe_accept` so every committed
    * baseline records which gate admitted it. */
  private[graft] val ProbeAcceptMaxStealPct = 0.6
  private[graft] def probeAccept(stealPct: Double): Boolean =
    stealPct < ProbeAcceptMaxStealPct

  /** Minimal extractor for one flat `"key":{"name":num,...}` object out of
    * a prior BENCH_DETAIL.json — enough to load the previous round's
    * per-query mins and calibration without a JSON dependency (the file is
    * machine-written by this object, all values `%.3f`). Returns empty on
    * any malformed input: the regression block then reports no baseline.
    */
  private def loadPrevDetail(path: String)
      : (Map[String, Double], Option[Double], Option[Double], Option[String]) = {
    try {
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      val qIdx = txt.indexOf("\"queries\":{")
      val queries = if (qIdx < 0) Map.empty[String, Double] else {
        val body = txt.substring(qIdx + 11, txt.indexOf('}', qIdx))
        "\"([a-z0-9_]+)\":(-?[0-9.]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
      val calib = "\"calibration\":(-?[0-9.]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble)
      val calibPar = "\"calibration_parallel\":(-?[0-9.]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble)
      val sf = "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
      (queries, calib, calibPar, sf)
    } catch { case _: Throwable => (Map.empty, None, None, None) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    // Silence two benign WARN families in the bench tail (a reviewer reads
    // the tail first; both signals are carried by build gates instead):
    //  - WindowExec "No Partition Defined": every remaining unpartitioned
    //    window is on PlanShapeSpec's globalWindowBounded whitelist, whose
    //    boundedness is MEASURED (row counts at two corpus sizes) and
    //    build-gated since r12. An out-of-whitelist global window fails
    //    `sbt test`, not this log line.
    //  - "RDD N was locally checkpointed, its lineage has been truncated
    //    and cannot be recomputed after unpersisting": logged by the
    //    concrete RDD class (MapPartitionsRDD et al, hence the package-
    //    level setting) when the between-query sweep unpersists a
    //    localCheckpoint — by design here: checkpoint blocks live exactly
    //    as long as the queries that read them (PinnedStorage sweeps the
    //    rest), and a lost executor in local mode means the whole JVM is
    //    gone, so "cannot be recomputed" has no survivor to warn.
    try {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    } catch { case _: Throwable => () }
    // Steady-state measurement: one warmup pass amortizes JIT/codegen
    // compilation (a long-running engine's real operating point), then the
    // measured passes. Caches are cleared between passes so the measured
    // numbers include each query's own materialization work.
    // optional comma-separated subset for local A/B experiments
    // (blank/empty entries treated as unset, not an empty filter)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // Suite hygiene beyond storage blocks (r11 finding: the common-query
    // total read ~17% above r10 after calibration while isolated reruns
    // sat at r10 levels — SUITE-LENGTH contention, not regression). Two
    // accumulating costs are evicted between queries, outside the timed
    // windows:
    //  - state-store providers: ~13 live streaming queries each leave
    //    their per-partition providers cached with a 60 s background
    //    maintenance loop (snapshot + checkpoint dir listing) that runs
    //    inside later queries' timed windows. unloadAll() between
    //    queries; a provider reloads from its checkpoint on next use.
    //  - staged temp dirs: every streaming query stages its feed +
    //    checkpoint in a fresh java.io.tmpdir directory (~40/pass);
    //    TmpDirs.sweepOwned deletes only this process's.
    def settle(): Unit = {
      // settle the JVM OUTSIDE the timed window: blocking sweep waits for
      // the block manager to drop the previous query's storage, provider
      // unload stops background state-store maintenance, the tmp sweep
      // drops staged feeds/checkpoints, and the explicit GC absorbs the
      // dead checkpoint/codegen garbage — without this, cleanup is
      // charged to whichever query runs next (r4: ann_* measured 5.6 s
      // in-suite vs 0.46 s isolated).
      PinnedStorage.sweep(spark, blocking = true)
      try org.apache.spark.sql.graftaccess.StateStoreAccess.unloadAll()
      catch { case _: Throwable => () }
      TmpDirs.sweepOwned(TmpDirs.root)
      System.gc()
    }
    // Pre-warmup probes (r14): every full-suite run r13-r14 read the
    // in-JVM parallel probe at 0.24-0.35 while subset runs in the SAME
    // minutes read 0.11-0.19 — the post-warmup JVM (16 GiB heap grown,
    // ~270 queries of codegen classes, GC threads) contaminates the
    // probe with self-inflicted contention the host doesn't have. This
    // pair runs in the still-lean JVM, so the detail can separate
    // "host capacity dipped" from "the probe aged with the JVM".
    val calibPrewarm = calibrationProbe()
    val calibParPrewarm = calibrationProbeParallel()
    // Loaded steal probe in the still-lean JVM (r17 verdict item 5): the
    // committed artifact must record that the capture gate was a LOADED
    // probe (idle probes are blind to busy co-tenants) and what it read.
    // SPARK_GRAFT_PROBE_SECS shortens it for local iteration; 0 skips
    // (probe_steal_pct:null — a capture script must then reject).
    val probeSecs = sys.env.getOrElse("SPARK_GRAFT_PROBE_SECS", "20").toInt
    val probeSteal: Option[Double] =
      if (probeSecs <= 0) None else loadedStealProbe(probeSecs)
    val stat0 = cpuStat()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
      settle()
    }
    // Timed passes, per-query MIN over VALID samples. One pass proved
    // fragile against TRANSIENT host contention: the r7 driver run's
    // per-query median was 1.8× the r6 run's on unchanged code, with
    // individual spikes up to 16× (agg_boolean_battery 0.19→3.07 s) that
    // no local run reproduced. The minimum over independent executions
    // still charges every query its full honest work (caches are swept
    // between passes; pinned session surfaces are exactly as warm as in
    // pass 1), but a CPU spike must now hit the SAME query in EVERY pass
    // to corrupt its number. Pass 2 runs in REVERSE suite order: any
    // residual monotone aging cost (heap/metaspace growth over a
    // ~260-query pass) hits each query early in one pass and late in the
    // other, so the per-query min is never "always the aged sample" for
    // alphabetically-late queries. A run that THROWS records the sentinel
    // -1 (never its fast-fail elapsed time): a near-zero exception path
    // must not become the min or pollute the spread statistics (r12
    // advisory). All raw passes are emitted in BENCH_DETAIL next to the
    // min, so a round-over-round drift can be adjudicated from data.
    def timedPass(order: Seq[String]): Map[String, Double] = order.map { name =>
      settle()
      // label the jobs (guide §1.5) so an event-log/UI profile can map
      // stages back to queries; description setting is thread-local and
      // costs nothing in the timed window
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      name -> (if (ok) dt else -1.0)
    }.toMap
    val calibStart = calibrationProbe()
    val calibParStart = calibrationProbeParallel()
    val pass1 = timedPass(names)
    val pass2 = timedPass(names.reverse)
    // Adaptive third pass (r12 verdict item 3): exactly the queries whose
    // two valid samples still disagree by >1.3× get one more sample —
    // bounded extra cost (~1/3 of the suite in r12's closing run), and it
    // directly shrinks the in-run spread the regression gate below must
    // clear. Queries with a failed pass rerun too (one honest retry).
    val spreadGate = 1.3
    def validMin(ss: Seq[Double]): Option[Double] =
      { val v = ss.filter(_ >= 0); if (v.isEmpty) None else Some(v.min) }
    def spreadOf(ss: Seq[Double]): Double = {
      val v = ss.filter(_ >= 0)
      if (v.size < 2 || v.min <= 0) 1.0 else v.max / v.min
    }
    val needThird = names.filter { n =>
      val ss = Seq(pass1(n), pass2(n))
      ss.exists(_ < 0) || spreadOf(ss) > spreadGate
    }
    val pass3 = timedPass(needThird)
    val samples3: Map[String, Seq[Double]] = names.map { n =>
      n -> (Seq(pass1(n), pass2(n)) ++ pass3.get(n))
    }.toMap
    // Worst-decile fourth pass (r13 verdict item 4): on windows where
    // host capacity arrives in multi-minute waves, the adaptive third
    // sample can land in the SAME wave as the bad one it was meant to
    // outvote — the queries whose spread is still >1.3× after pass 3 are
    // exactly that tail. Give the worst decile of them (by residual
    // spread) one more sample: bounded cost (≤ ~27 queries), aimed where
    // the jitter statistic says the measurement is still unresolved.
    val needFourth = names
      .filter(n => spreadOf(samples3(n)) > spreadGate)
      .sortBy(n => -spreadOf(samples3(n)))
      .take(math.max(1, names.size / 10))
    val pass4 = timedPass(needFourth)
    val samples: Map[String, Seq[Double]] = names.map { n =>
      n -> (samples3(n) ++ pass4.get(n))
    }.toMap
    val calibEnd = calibrationProbe()
    val calibParEnd = calibrationProbeParallel()
    val calibPar = math.min(calibParStart, calibParEnd)
    // run-long host steal fraction (percent of total cpu ticks the
    // hypervisor gave a co-tenant while this run wanted them)
    val stealPct: Option[Double] = for {
      (s0, t0) <- stat0; (s1, t1) <- cpuStat() if t1 > t0
    } yield (s1 - s0) * 100.0 / (t1 - t0)
    val failed = names.filter(n => validMin(samples(n)).isEmpty)
    val results = names.flatMap(n => validMin(samples(n)).map(n -> _)).toMap
    // host-speed calibration: min over a start and an end probe (also
    // emitted separately in BENCH_DETAIL — a large start/end spread is
    // itself the host-drift signal)
    val calib = math.min(calibStart, calibEnd)
    // Locale.ROOT: a comma-decimal default locale must not corrupt the JSON
    def f(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))
    def obj(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // resolved against the working directory (scripts/capture_baseline.sh
    // runs from the repo root)
    val detailPath = java.nio.file.Paths.get("BENCH_DETAIL.json").toAbsolutePath.toString
    // Round-over-round adjudication, COMPUTED instead of prose (r12
    // verdict item 2): load the previous round's per-query mins (env
    // SPARK_GRAFT_PREV_DETAIL, else the committed BENCH_DETAIL.json —
    // read BEFORE this run overwrites it), normalize for host speed via
    // the calibration probes, and apply the spread gate the r12 DESIGN
    // protocol defined: a delta is a finding only if it clears the
    // query's own in-run spread. regression(q) :=
    //   cur_min > prev_min·(calib_cur/calib_prev)·max(spread_q, 1.25)
    //   AND cur_min − prev_adj > 0.15 s  (absolute floor vs sub-100ms noise)
    // a baseline recorded at a DIFFERENT scale factor is not comparable —
    // drop it rather than flag every query of a local small-SF subset run
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_PREV_DETAIL", detailPath)
    val (prevMinsRaw, prevCalib, prevCalibPar, prevSf) = loadPrevDetail(prevPath)
    // contains, not forall: a baseline whose "sf" field is missing or
    // unparseable has UNKNOWN scale — drop it (r13 advisory: forall
    // treated a truncated/hand-edited detail as same-scale and compared
    // its mins anyway)
    val prevMins = if (prevSf.contains(sfDir)) prevMinsRaw
                   else Map.empty[String, Double]
    // host adjustment = the LARGER (more conservative, fewer phantom
    // flags) of the serial and parallel probe ratios — the two move
    // independently on this host (see calibrationProbeParallel scaladoc)
    val serialAdj = prevCalib.filter(_ > 0).map(pc => calib / pc)
    val parAdj = prevCalibPar.filter(_ > 0).map(pc => calibPar / pc)
    val calibAdj = (serialAdj.toSeq ++ parAdj.toSeq).maxOption.getOrElse(1.0)
    // Cross-run stability (r14 verdict item 3): the in-run jitter count
    // n_ratio_over_1p3 is bounded below by host-capacity wave frequency
    // (in-run max/min CANNOT converge under waves — more passes only
    // widen it; DESIGN.md round-14 §6), so it is demoted to
    // informational. The replacement compares this run's per-query MIN
    // against the previous full run's min (host-adjusted, same sf),
    // two-sided: a number that IMPROVES with pass count (mins converge
    // downward onto the query's true floor) and is insensitive to
    // in-window waves (a wave must survive the min of BOTH runs' passes
    // to register). Target: n_over_1p3 ≤ 10% of n_compared on unchanged
    // code; queries whose implementation changed between the runs
    // legitimately exceed it and are the expected residue.
    //
    // Two r16 refinements, both measured on identical-code run pairs
    // (DESIGN.md round-16 §7):
    //  - host adjustment = the MEDIAN per-query ratio cur/prev
    //    (self-normalizing over all ~270 pairs), NOT the probe-based
    //    calibAdj. The probe max() is deliberately conservative for the
    //    ONE-SIDED regression gate, but for a two-sided count it is
    //    biased: on one unchanged-code pair it read 30.1% over-1.3
    //    where the median-normalized count read 4.0%. The raw median is
    //    emitted as `host_shift` so a large window difference stays
    //    visible.
    //  - the same 0.15 s absolute noise floor the regression gate has
    //    carried since r12: a 0.25 s → 0.14 s micro-query wobble is a
    //    1.7× ratio but pure measurement noise, and the cross-run count
    //    exists to find real drift, not to count timer jitter.
    //
    // Computed BEFORE the regression block since r17: each regression
    // flag self-adjudicates against the median host_shift (see inside).
    val crossPairs = names.flatMap { n =>
      (results.get(n), prevMins.get(n)) match {
        case (Some(cur), Some(prev)) if prev > 0 && cur > 0 => Some((cur, prev))
        case _ => None
      }
    }
    // n_compared comes back from crossRunStat itself so the reported
    // denominator can never drift from the population actually counted
    val (hostShift, crossOver, crossMed, crossCompared) = crossRunStat(crossPairs)
    // Corroboration (r17 verdict item 2; widened per r18 verdict item
    // 6): EVERY would-be CODE flag earns one extra measured sample
    // before it may be declared code — the r18 capture's six n_code
    // flags all read corroborated:false because the old `prev ≤ 0.45 s`
    // bound excluded their 0.5–2 s baselines, so the gate never fired
    // in its first live outing. The min over all samples is the query's
    // floor, so corroboration can only retract noise, never hide a real
    // regression that reproduces; worst-case cost is one extra pass
    // over exactly the flagged queries.
    val regressions: Seq[(String, String)] = names.flatMap { n =>
      (results.get(n), prevMins.get(n)) match {
        case (Some(cur0), Some(prev)) if prev > 0 =>
          val prevAdj = prev * calibAdj
          val sp = spreadOf(samples(n))
          def trips(c: Double, p: Double): Boolean =
            c > p * math.max(sp, 1.25) && c - p > 0.15
          if (!trips(cur0, prevAdj)) None
          else {
            // Self-adjudication (r16 verdict, What's wrong #1): the
            // probe-based calibAdj systematically under-corrects
            // contended windows (r16: calib_adj 1.014 while the same
            // artifact's median per-query host shift read 1.167, so 33
            // window-noise flags landed on untouched code). Each flag
            // therefore carries its MEDIAN-shift-adjusted ratio and a
            // `window` verdict: true ⇔ re-running the same gate against
            // prev·host_shift no longer trips it — the flag is explained
            // by the host window, not by code. Code signals are the
            // `"window":false` residue; `n_code` counts them.
            val prevShift = prev * hostShift
            val wouldBeCode = trips(cur0, prevShift)
            val (cur, corroborated) =
              if (wouldBeCode) {
                settle()
                corroborate(cur0) { SparkEntry.queries(n)(spark, sfDir).count() }
              } else (cur0, "false")
            if (!trips(cur, prevAdj)) None
            else {
              val isWindow = !trips(cur, prevShift)
              Some(n ->
                s"""{"prev":${f(prev)},"prev_adj":${f(prevAdj)},"cur":${f(cur)},"cur_first":${f(cur0)},"corroborated":$corroborated,"spread":${f(sp)},"ratio_shift_adj":${f(cur / prevShift)},"window":$isWindow}""")
            }
          }
        case _ => None
      }
    }
    val nWindow = regressions.count(_._2.contains("\"window\":true"))
    // host_shift sanity band (r16 advice): the median self-normalization
    // absorbs any drift shared by more than half the suite — a uniform
    // REAL regression would read n_over_1p3 ≈ 0. The one-sided calibAdj
    // gate remains the backstop, but flag the condition in the artifact
    // itself so a suite-wide shift is surfaced rather than silently
    // normalized away. Upper bound 1.2 (r17 advice): the per-flag
    // `window` verdict re-passes against prev·host_shift under the same
    // 1.25 ratio gate, so a uniform slowdown anywhere in (1.25, old
    // 1.4] would make every flag read window:true while the warn stayed
    // silent — the warn band must cover the regression gate's own
    // threshold from below.
    val hostShiftWarn = hostShift < 0.7 || hostShift > 1.2
    // the tracked artifact records FULL-suite runs only; a SPARK_GRAFT_ONLY
    // subset A/B run must not overwrite the committed full-run record
    val detailFailure: Option[Throwable] = if (only.isEmpty) {
      // per-query in-suite spread: ratio = max/min over the valid samples.
      // n_ratio_over_1p3 is the headline jitter count — queries whose
      // samples disagree by >30% within ONE run even after the adaptive
      // third pass; round-over-round drift larger than this in-run spread
      // is real, smaller is measurement. Failed-only queries are excluded
      // (a -1 sentinel is not a timing).
      val ratios = names.filter(n => validMin(samples(n)).isDefined)
        .map(n => spreadOf(samples(n))).sorted
      val medRatio = if (ratios.nonEmpty) ratios(ratios.size / 2) else 1.0
      val nOver = ratios.count(_ > 1.3)
      val regBlock = regressions
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val failedArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val detail = s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":${results.size},"calibration":${f(calib)},"calibration_start":${f(calibStart)},"calibration_end":${f(calibEnd)},"calibration_prewarm":${f(calibPrewarm)},"calibration_parallel":${f(calibPar)},"calibration_parallel_start":${f(calibParStart)},"calibration_parallel_end":${f(calibParEnd)},"calibration_parallel_prewarm":${f(calibParPrewarm)},"host_steal_pct":${stealPct.map(f).getOrElse("null")},"probe_mode":"loaded","probe_steal_pct":${probeSteal.map(f).getOrElse("null")},"probe_accept":${probeSteal.exists(probeAccept)},"jitter":{"informational":true,"median_max_over_min":${f(medRatio)},"n_ratio_over_1p3":$nOver,"n_third_pass":${needThird.size},"n_fourth_pass":${needFourth.size}},"cross_run":{"n_over_1p3":$crossOver,"median_ratio":${f(crossMed)},"host_shift":${f(hostShift)},"host_shift_warn":$hostShiftWarn,"noise_floor_s":0.15,"n_compared":$crossCompared,"target":"n_over_1p3 <= 10% of n_compared on unchanged code; improves with pass count"},"regressions":{"n":${regressions.size},"n_window":$nWindow,"n_code":${regressions.size - nWindow},"host_shift":${f(hostShift)},"prev_detail":"$prevPath","prev_calibration":${prevCalib.map(f).getOrElse("null")},"calib_adj":${f(calibAdj)},"items":$regBlock},"failed":$failedArr,"queries":${obj(results.toSeq.sortBy(_._1))},"pass1":${obj(pass1.toSeq.sortBy(_._1))},"pass2":${obj(pass2.toSeq.sortBy(_._1))},"pass3":${obj(pass3.toSeq.sortBy(_._1))},"pass4":${obj(pass4.toSeq.sortBy(_._1))},"sf":"$sfDir"}"""
      try { java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath), detail); None }
      catch { case scala.util.control.NonFatal(e) => Some(e) }
    } else None
    // Printed line: a full run prints a headline subset, ALWAYS including
    // the run's own top-5 most expensive queries (merged in ahead of the
    // static list) — a slow query can never be invisible in the printed
    // line (r6/r8 finding: the curated list twice omitted the most
    // expensive new entry). A SPARK_GRAFT_ONLY subset run writes no detail
    // file, so it prints every query it ran instead, slowest first.
    // Hard-capped at 1600 chars so the line + sbt's trailing "[success]"
    // always fit the driver's 2000-char tail; the cap trims the tail
    // (the static list, or a subset's fastest), never a full run's top-5.
    // `regressions` is the spread-gated round-over-round count (details
    // in BENCH_DETAIL.json).
    val slowest = results.toSeq.sortBy(-_._2).map(_._1)
    val hlNames =
      if (only.isDefined) slowest
      else {
        val top5 = slowest.take(5)
        top5 ++ headline.filter(results.contains).filterNot(top5.contains)
      }
    var hl = hlNames.map(n => n -> results(n))
    // names the detail file only when this run wrote it
    val detailField =
      if (only.isEmpty && detailFailure.isEmpty) "\"" + detailPath + "\"" else "null"
    def mkLine(entries: Seq[(String, Double)]): String =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","n_queries":${results.size},"calibration":${f(calib)},"calibration_parallel":${f(calibPar)},"host_steal_pct":${stealPct.map(f).getOrElse("null")},"regressions":${regressions.size},"regressions_code":${regressions.size - nWindow},"queries":${obj(entries)},"detail":$detailField,"sf":"$sfDir"}"""
    var line = mkLine(hl)
    while (line.length > 1600 && hl.nonEmpty) {
      hl = hl.dropRight(1)
      line = mkLine(hl)
    }
    println(line)
    spark.stop()
    // after the JSON line, so a failed detail write still leaves the run's
    // numbers on stdout
    detailFailure.foreach { e =>
      System.err.println(s"graft.Bench: could not write $detailPath: $e")
      sys.exit(1)
    }
  }
}

/** Standalone loaded-probe main for the capture loop's PRE-gate: prints
  * one JSON line with the loaded steal reading and the pinned
  * acceptance verdict ([[Bench.probeAccept]]), so
  * `scripts/capture_baseline.sh` can reject a dirty window in ~20 s
  * instead of discovering it after a full bench run.
  *
  * Usage: scripts/run_main.sh graft.LoadedProbe [seconds]
  */
object LoadedProbe {
  def main(args: Array[String]): Unit = {
    val secs = args.headOption.map(_.toInt).getOrElse(20)
    def f(v: Double): String =
      String.format(Locale.ROOT, "%.3f", Double.box(v))
    Bench.loadedStealProbe(secs) match {
      case Some(p) =>
        println(s"""{"probe_mode":"loaded","probe_secs":$secs,"probe_steal_pct":${f(p)},"probe_accept":${Bench.probeAccept(p)}}""")
      case None =>
        println("""{"probe_mode":"loaded","probe_steal_pct":null,"probe_accept":false}""")
    }
  }
}
