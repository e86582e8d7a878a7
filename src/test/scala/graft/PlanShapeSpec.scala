package graft

import org.apache.spark.sql.execution.ExplainMode

/** Enforces the physical-plan properties the 100 TB design depends on —
  * not just "the query returns right rows" but "the plan is the one we'd
  * want on a 1000-executor cluster". Every claim DESIGN.md makes about
  * pushdown/broadcast/join strategy is pinned here so a regression (a
  * dropped hint, a filter that stops reaching the scan) fails CI instead
  * of quietly becoming a quadratic plan.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** Queries where a BroadcastNestedLoopJoin is the intended shape: a
    * deliberately tiny side (1-row corpus count / global sketch, the
    * scalar-subquery average, the broadcast query-point set of the
    * brute-force ANN baseline, the documented all-pairs cosine form).
    */
  private val nestedLoopAllowed = Set(
    "ann_cosine_topk_bruteforce",     // query points broadcast vs corpus
    "ann_recall_lsh_vs_exact",        // composes the brute-force baseline
    "ann_recall_ivf_vs_exact",        // composes the brute-force baseline
    "ann_recall_int8_vs_exact",       // composes the brute-force baseline (both sides)
    "dedup_embedding_cosine",         // documented all-pairs baseline
    "pipeline_modality_agreement",    // composes the all-pairs embedding baseline
    "subquery_parts_above_avg_price", // scalar subquery (1-row avg)
    "text_tfidf_top_term",            // 1-row corpus-size crossJoin
    "approx_hll_mergeable_union",     // 1-row global-sketch crossJoin
    "ts_gapfill_daily_orders",        // day grid × 5-row dimension set
    "join_theta_price_brackets",      // 4-row broadcast range dimension
    "q15_top_supplier",               // 1-row max-revenue crossJoin
    "q22_idle_balance_by_nation",     // 1-row avg-balance crossJoin
    "q11_important_stock",            // 1-row total-value crossJoin
    "ann_cosine_topk_ivf_multiprobe", // 10 queries × k centroids: the centroid-ranking join
    "ann_recall_ivf_multiprobe_vs_exact", // composes brute force + the centroid ranking
    "ann_ivf_assign_delta",           // |delta| × k centroids: the assignment join
    "scale_zorder_layout",            // 1-row min/max-stats crossJoin feeding the scaled interleave
    "event_funnel_conversion",        // three 1-row stage counts crossJoined into the summary row
    "audit_constraints",              // per-check 1-row checked/violation counts crossJoined
    "sample_weighted_pps",            // 1-row corpus char-mass crossJoin feeding the PPS predicate
    "text_pmi_bigrams",               // 1-row corpus token-total crossJoin feeding the lift
    "pipeline_data_card",             // 1-row corpus char-mass crossJoin (the PPS branch)
    "text_bigram_lm_quality",         // 1-row vocab-count crossJoin feeding the smoothing denominator
    "stats_ks_drift",                 // 1-row sample-totals crossJoin feeding the CDF cross-multiplication
    "sketch_kmv_set_ops",             // four 1-row sketch-estimate frames crossJoined into the summary row
    "privacy_pseudonymize_audit",     // 1-row global-collision count crossJoined into the per-type audit
    "graph_triangle_count",           // 1-row triangle count crossJoined with the 1-row graph scalars
    "search_tf_saturation",           // 1-row corpus scalars (N, avgdl) crossJoin
    "search_hybrid_rrf",              // 1-row query-embedding crossJoin feeding the semantic arm
    "sketch_join_size_estimate",      // 1-row sketch-estimate/count frames crossJoined into the summary row
    "text_vocab_growth",              // 1-row id-span crossJoin feeding the slice formula
    "ts_anomaly_robust_mad",          // 1-row median/MAD crossJoins feeding the flag predicate
    "ts_seasonal_weekday",            // 1-row overall-mean crossJoin feeding the seasonal factor
    "ann_eval_mrr",                   // composes the brute-force baseline (broadcast query set)
    "graph_kcore_peel",               // per-round 1-row survivor/edge-count crossJoins
    "graph_brand_modularity",         // 1-row edge-count crossJoin feeding the Q division
    "text_bpe_apply_merge",           // 1-row top-pair / replaced-count crossJoins
    "privacy_t_closeness",            // classes × ~6-row band grid + 1-row corpus total
    "scale_skew_salt_plan",           // 1-row threshold (τ) crossJoin into the key census
    "ann_ivf_kmeans_train",           // 1-row centroid-array frame crossJoined per Lloyd pass
    "stats_bootstrap_ci_poisson",     // 1-row CI-bounds frame crossJoined into the summary row
    "rec_copurchase_lift",            // 1-row order-count crossJoin feeding the lift denominator
    "event_rfm_segments",             // 1-row R/M boundary-tuple frame crossJoined into the census
    "graph_ppr_seeded",               // 1-row node/seed-count crossJoins feeding the teleport share
    "ann_knn_graph_ivf",              // 1-row AuditGuard census crossJoin (r16 scale guard)
    "ann_recall_knn_capped_vs_exact", // composes the guarded exact arm above
    "sketch_quantile_subsample_merge", // 5-row quantile frame broadcast into the summary probe
    "stats_cuped_adjusted_lift",      // 1-row pooled-moments frame broadcast into the variant stats
    "ann_pq_adc_topk",                // 1-row query-vector crossJoin feeding the exact arm
    "ann_ivfadc_topk",                // 1-row query-vector crossJoins (cell probe, dtab, re-rank)
    "ann_ivfadc_prebuilt",            // same probe as ann_ivfadc_topk over the pinned index
    "ann_ivfadc_batch_topk",          // |cells|-row centroid frame × the 100-row query batch
    "ann_knn_graph_greedy_search",    // 1-row query-vector crossJoin per hop's point-fetch scoring
    "ann_knn_graph_greedy_batch",     // two 1-row entry-node frames crossJoined into the 10-row query set
    "ann_recall_greedy_vs_exact",     // 10-row query set × corpus exact audit arm + the batch probe's entry frames
    "sample_stratified_neyman",       // 1-row Σweight crossJoin feeding the allocation
    "text_tokenizer_fertility",       // 1-row ranked-merge-table crossJoin into the dict apply
    "event_markov_stationary",        // 1-row type-count crossJoin seeding the uniform x0
    "pipeline_dsir_domain_votes",     // 1-row token-totals + 1-row en-mean crossJoins
    "audit_guard_engaged_parity",     // 1-row corpus-count + 1-row AuditGuard census crossJoins
    "scale_exact_quantiles",          // 1-row order-statistics bracket frame crossJoin (r18)
    "stats_theil_sen_mann_kendall")   // day-pair theta join + 1-row stat frames — the day
                                      // grain is bounded by the fixed date span, so the
                                      // broadcast NL pair join is over a constant-size frame

  /** Queries where an unpartitioned logical Window is over a PROVABLY
    * BOUNDED frame — an aggregate whose grain is constant-cardinality
    * (days/months of a fixed date span, top-k slices, per-round scalar
    * frames), so "all data to one partition" is a few hundred rows at
    * any corpus size. Everything else must rank through TwoStageOrder
    * (range partition + local rank + offset join) — the r10 audit found
    * four data-proportional global windows that had accumulated
    * unnoticed; this guard makes the class a build failure. Membership
    * here is not prose: the measured-boundedness test below executes
    * every whitelisted window's input at two corpus sizes and fails the
    * build if the row count grows with the data.
    */
  private val globalWindowBounded: Set[String] = Set(
    "ann_eval_mrr",              // OVER () on the 10-row fixed query-set frame
    "audit_benford_first_digit", // OVER () on the 9-row first-digit frame
    "event_cumulative_uniques",  // cumsum over the DAY grain (fixed date span)
    "pipeline_dedup_funnel",     // OVER () on the ~6-row stage-census frame
    "pipeline_epoch_mixture",    // OVER () on the per-source frame (~5 sources)
    "pipeline_temperature_mixture", // OVER () on the same per-source frame
    "scale_two_stage_cumsum",    // stage-2 prefix over the MONTH frame — the
                                 // bounded half of the two-stage pattern itself
    "search_hybrid_rrf",         // arm ranks AFTER .limit(armK=100) — both
                                 // windows run over ≤100-row arm lists
    "stats_chi2_independence",   // OVER () on the contingency-cell frame
    // stats_ks_drift was REMOVED r12: the measured audit showed its
    // distinct-cents frame at 8.5× under 10× data (value-domain "bounds"
    // don't hold pre-saturation); its CDF now builds through
    // TwoStageOrder.withRunningSums
    "stats_rank_sum_u",          // prefix over DISTINCT length values —
                                 // measured flat (41→36 under 10× data)
    "text_vocab_growth",         // cumsum over the 10-row slice frame
    "ts_anomaly_daily_revenue",  // day-grain median-by-rank frames
    "ts_anomaly_robust_mad",     // day-grain median/MAD frames (6 windows)
    "ann_ivf_kmeans_train",      // seed-rank window over the k=8-row seed frame
    "ann_pq_adc_topk",           // seed-rank over the k=16-row seed frame + final rank
                                 // over the 10-row TakeOrdered result
    "ann_rq_reconstruction_gain", // seed-rank over the k=16-row seed frame
    "ann_ivfadc_topk",           // seed-rank over the k=16-row seed frame + final
                                 // rank over the 10-row TakeOrdered result
    "ann_ivfadc_prebuilt",       // final rank over the 10-row TakeOrdered result
                                 // (the seed window lives in the pinned build)
    "ts_ewma_dyadic",            // 20-lag ladder over the DAY grain (fixed date span)
    "ts_stl_weekday_decompose")  // 7-point centered MA over the DAY grain

  test("globalWindowBounded is measured, not argued: window input stays sublinear in the data") {
    // r11 verdict item 2: the whitelist above used to carry prose
    // boundedness arguments only — nothing failed the build if an edit
    // made a whitelisted frame data-proportional again (the exact class
    // the r10 audit caught). This test EXECUTES each whitelisted query's
    // unpartitioned-window input at a small and a large corpus and fails
    // if the row count grows like the data: a genuinely bounded frame
    // (day grain, top-k slice, seed frame) stays ~flat under 10× data; a
    // data-proportional frame shows ~10×. The gate is ratio ≤ half the
    // table growth — comfortably above value-domain saturation effects
    // (distinct cents/lengths still filling their domain at these SFs),
    // unreachable by a linear frame.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(globalWindowBounded.subsetOf(SparkEntry.queries.keySet),
      s"stale whitelist entries: ${(globalWindowBounded -- SparkEntry.queries.keySet).mkString(",")}")
    // dir pair per query: the pair across which the query's DRIVING table
    // grows (documents/embeddings are constant between sf0.001 and
    // sf0.01, so their queries measure sf0.01 → sf0.1 instead; the
    // embeddings table grows 4× there, documents 10×)
    val docDriven = Set("pipeline_dedup_funnel", "pipeline_epoch_mixture",
      "pipeline_temperature_mixture", "text_vocab_growth", "search_hybrid_rrf")
    val embDriven = Set("ann_eval_mrr", "ann_ivf_kmeans_train", "ann_pq_adc_topk",
      "ann_rq_reconstruction_gain", "ann_ivfadc_topk")
    def dims(name: String): (String, String, Double) =
      if (docDriven(name)) ("/root/testdata/sf0.01", "/root/testdata/sf0.1", 10.0)
      else if (embDriven(name)) ("/root/testdata/sf0.01", "/root/testdata/sf0.1", 4.0)
      else ("/root/testdata/sf0.001", "/root/testdata/sf0.01", 10.0)
    // rows INTO the largest unpartitioned window = count of its child
    // (Window is 1:1), executed as its own plan via the ofRows forwarder
    def maxWindowInput(name: String, d: String): Long = {
      val df = SparkEntry.queries(name)(spark, d)
      val counts = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty =>
          org.apache.spark.sql.graftaccess.DatasetAccess.ofRows(spark, w.child).count()
      }
      if (counts.isEmpty) 0L else counts.max
    }
    val offenders = globalWindowBounded.toSeq.sorted.flatMap { name =>
      val (small, big, growth) = dims(name)
      val a = maxWindowInput(name, small)
      val b = maxWindowInput(name, big)
      if (a == 0L && b == 0L) { // window elided by the optimizer at both SFs
        info(f"$name%-32s window constant-folded away at both SFs"); None
      } else {
        val ratio = if (a > 0) b.toDouble / a else Double.PositiveInfinity
        info(f"$name%-32s $a%8d -> $b%8d rows  ratio $ratio%5.2f  (data ${growth}%.0f×)")
        if (ratio > growth / 2)
          Some(f"$name: $a -> $b rows (ratio $ratio%.2f vs data growth ${growth}%.0f×)")
        else None
      }
    }
    assert(offenders.isEmpty,
      "whitelisted 'bounded' global windows whose input GROWS with the " +
        s"data:\n  ${offenders.mkString("\n  ")}\nroute them through " +
        "TwoStageOrder or fix the frame")
  }

  /** The two documented all-pairs exactness baselines: BOTH sides of
    * their nested-loop join are the corpus by construction (they exist
    * as recall oracles for the scaled LSH/band arms and are graded
    * `weak` at scale on purpose, DESIGN.md). Measuring them would only
    * re-confirm both sides are data-proportional, so they are the one
    * exemption from the measured tiny-side audit below.
    */
  private val nestedLoopAllPairsBaseline = Set(
    "dedup_embedding_cosine", "pipeline_modality_agreement")

  // ---- BNLJ tiny-side measurement machinery (shared by the audit and
  // its canary): non-equi logical joins are the exact population that
  // plans as BroadcastNestedLoopJoin (equi joins hash; CartesianProduct
  // is banned suite-wide), and the SMALLER side is the one Spark
  // broadcasts — the side every whitelist entry claims is tiny.
  private object BnljAudit {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, LogicalPlan}
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Expression, PredicateHelper}
    private object PH extends PredicateHelper {
      def conjuncts(c: Expression): Seq[Expression] = splitConjunctivePredicates(c)
    }
    private def splitsAcross(j: LJoin, l: Expression, r: Expression): Boolean = {
      val (lo, ro) = (j.left.outputSet, j.right.outputSet)
      l.references.nonEmpty && r.references.nonEmpty &&
        ((l.references.subsetOf(lo) && r.references.subsetOf(ro)) ||
         (l.references.subsetOf(ro) && r.references.subsetOf(lo)))
    }
    private def hasEquiKey(j: LJoin): Boolean = j.condition.exists { c =>
      PH.conjuncts(c).exists {
        case EqualTo(l, r) => splitsAcross(j, l, r)
        case EqualNullSafe(l, r) => splitsAcross(j, l, r)
        case _ => false
      }
    }
    // row-count cap: the NON-tiny side of these joins is corpus-sized;
    // its exact count is irrelevant (only which side is smaller), so
    // cap the scan instead of paying a full count on the big side
    val cap = 200000
    /** (Σ min-side rows over the plan's non-equi joins, join count,
      * saturated?). `saturated` = some MIN side itself read `cap` rows:
      * in that regime the ratio gate is blind (a side over the cap at
      * both SFs reads ratio 1.00 — r13 advisory), so the audit must
      * fail loudly instead of passing the offender.
      */
    def tinySideRows(s: org.apache.spark.sql.SparkSession,
                     df: org.apache.spark.sql.DataFrame): (Long, Int, Boolean) = {
      def cnt(p: LogicalPlan): Long =
        org.apache.spark.sql.graftaccess.DatasetAccess.ofRows(s, p)
          .limit(cap).count()
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: LJoin if !hasEquiKey(j) => j
      }
      val mins = joins.map(j => math.min(cnt(j.left), cnt(j.right)))
      (mins.sum, joins.size, mins.exists(_ >= cap))
    }
  }

  test("nestedLoopAllowed is measured, not argued: BNLJ tiny side stays sublinear in the data") {
    // r12 verdict item 1: the whitelist above carried prose tiny-side
    // arguments only ("1-row corpus count", "8-row centroid frame") —
    // the exact state the window whitelist was in before its measured
    // audit immediately caught a live 8.5×-growing offender
    // (stats_ks_drift, r12). This test EXECUTES, per whitelisted query,
    // the row count of the SMALLER side of every non-equi join in the
    // optimized plan (the side Spark broadcasts; non-equi joins are the
    // exact logical population that plans as BroadcastNestedLoopJoin —
    // equi joins hash, and CartesianProduct is banned suite-wide) at two
    // corpus sizes, and fails the build if the summed tiny-side rows
    // grow faster than half the data growth. A genuinely tiny side
    // (1-row scalar frame, k-row centroid/band grid, fixed query set)
    // stays ~flat; a side that silently became data-proportional shows
    // ~the table growth. (r13 first run: all 46 measured entries exactly
    // flat, ratio 1.00; graph_ppr_seeded / q15_top_supplier /
    // scale_zorder_layout had their non-equi joins optimized away.)
    def tinySideRows(name: String, d: String): (Long, Int, Boolean) =
      BnljAudit.tinySideRows(spark, SparkEntry.queries(name)(spark, d))
    // dir pair per query, chosen by which parquet tables the plan scans:
    // documents/embeddings are CONSTANT between sf0.001 and sf0.01, so
    // queries driven by them measure sf0.01 → sf0.1 (embeddings grows 4×
    // there, documents 10×); everything else measures sf0.001 → sf0.01
    // (10×). When a plan scans no parquet at all (the shared PQ level-1
    // artifact is pinned, so ann_pq/rq probe checkpointed frames), fall
    // back to the embeddings pair — the artifact is embeddings-derived.
    val embFallback = Set("ann_pq_adc_topk", "ann_rq_reconstruction_gain",
      "ann_knn_graph_greedy_search", "ann_knn_graph_greedy_batch",
      "ann_ivfadc_prebuilt", "ann_ivfadc_batch_topk",
      "ann_recall_greedy_vs_exact")
    def dims(name: String): (String, String, Double) = {
      val p = plan(name).toLowerCase
      if (p.contains("embeddings.parquet") || embFallback(name))
        ("/root/testdata/sf0.01", "/root/testdata/sf0.1", 4.0)
      else if (p.contains("documents.parquet"))
        ("/root/testdata/sf0.01", "/root/testdata/sf0.1", 10.0)
      else ("/root/testdata/sf0.001", "/root/testdata/sf0.01", 10.0)
    }
    val measured = nestedLoopAllowed -- nestedLoopAllPairsBaseline
    assert(measured.subsetOf(SparkEntry.queries.keySet),
      s"stale whitelist entries: ${(measured -- SparkEntry.queries.keySet).mkString(",")}")
    val offenders = measured.toSeq.sorted.flatMap { name =>
      val (small, big, growth) = dims(name)
      val (a, na, satA) = tinySideRows(name, small)
      val (b, nb, satB) = tinySideRows(name, big)
      if (na == 0 && nb == 0) {
        info(f"$name%-36s non-equi joins optimized away at both SFs"); None
      } else if (satA || satB) {
        // a min side at the cap means the ratio below is meaningless
        // (both-saturated reads 1.00 exactly for the largest offenders)
        Some(f"$name: a 'tiny' side saturated the ${BnljAudit.cap}-row " +
          "audit cap — it is not tiny; re-key the join")
      } else {
        val ratio = if (a > 0) b.toDouble / a else if (b == 0) 1.0 else Double.PositiveInfinity
        info(f"$name%-36s $a%8d -> $b%8d rows ($na/$nb joins)  ratio $ratio%5.2f  (data ${growth}%.0f×)")
        if (ratio > growth / 2)
          Some(f"$name: $a -> $b tiny-side rows (ratio $ratio%.2f vs data growth ${growth}%.0f×)")
        else None
      }
    }
    assert(offenders.isEmpty,
      "whitelisted 'tiny-side' nested-loop joins whose broadcast side " +
        s"GROWS with the data:\n  ${offenders.mkString("\n  ")}\nre-key " +
        "the join or shrink the frame (see stats_ks_drift's r12 rewrite)")
  }

  test("BNLJ audit canary: a data-proportional broadcast side IS detected") {
    // permanent sensitivity pin for the audit above: a deliberately
    // wrong plan — a cross join whose "tiny" side is a full base table —
    // must measure as growing with the data and clear the gate by a wide
    // margin. If a future refactor of the measurement (equi-key
    // detection, the row cap, the min-side rule) silently stopped seeing
    // growth, THIS test fails instead of the audit quietly passing
    // offenders (the r12 window audit's value came precisely from
    // catching a live one — keep the detector honest).
    import org.apache.spark.sql.functions.broadcast
    def offender(d: String) =
      Tables.orders(spark, d).crossJoin(broadcast(Tables.customer(spark, d)))
    val (a, na, _) = BnljAudit.tinySideRows(spark, offender("/root/testdata/sf0.001"))
    val (b, nb, _) = BnljAudit.tinySideRows(spark, offender("/root/testdata/sf0.01"))
    assert(na == 1 && nb == 1, s"canary cross join not seen as non-equi ($na/$nb)")
    val ratio = b.toDouble / a
    info(f"canary tiny side $a -> $b rows, ratio $ratio%.2f (data 10×, gate 5)")
    assert(ratio > 5.0,
      f"audit lost its sensitivity: canary ratio $ratio%.2f did not clear the gate")
    // saturation canary (r13 advisory): a min side AT the cap must raise
    // the saturated flag — otherwise a both-SF-saturated offender reads
    // ratio 1.00 and sails through the growth gate above
    val li = Tables.lineitem(spark, "/root/testdata/sf0.1")
    val (cs, ns, sat) = BnljAudit.tinySideRows(spark, li.crossJoin(broadcast(li)))
    info(s"saturation canary: min side $cs rows over $ns join(s), saturated=$sat")
    assert(ns == 1 && sat,
      "saturation flag not raised for a cap-sized min side — the audit is " +
        "blind to large offenders again")
  }

  test("no unpartitioned Window over an unbounded input") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val n = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.size
      if (n > 0 && !globalWindowBounded(name)) Some(s"$name ($n)") else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window over unbounded input (single-partition sort " +
        s"at scale) in: ${offenders.mkString(", ")} — rank through " +
        "TwoStageOrder or whitelist with a boundedness argument")
  }

  test("no query plans a CartesianProduct; NestedLoop only where intended") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct (quadratic shuffle product)")
      if (!nestedLoopAllowed(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin outside the whitelist")
    }
  }

  test("q1: shipdate filter is pushed to the parquet scan; scan is pruned") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters"), "no pushdown section in scan")
    assert(p.contains("LessThanOrEqual(l_shipdate"),
      "l_shipdate range filter did not reach the parquet scan")
    assert(!p.contains("l_partkey"),
      "q1 reads l_partkey — column pruning regressed")
  }

  test("q3/q5: dimension sides broadcast (no shuffle on the small side)") {
    assert(plan("q3_shipping_priority").contains("BroadcastHashJoin"))
    val q5 = plan("q5_local_supplier_volume")
    assert(q5.contains("BroadcastHashJoin"))
    assert(!q5.contains("CartesianProduct"))
  }

  test("bucketed range join stays an equi hash/merge join") {
    val p = plan("join_range_pairs_within_1h")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      "range join lost its equi-join key")
    assert(!p.contains("NestedLoop"), "range join degenerated to a nested loop")
  }

  test("training order: the shuffle window stays per-shard (no single-partition stage)") {
    // the global training shuffle must never collapse to one partition —
    // row_number runs per shard; only the gate's final ORDER BY may
    // range-partition. A SinglePartition exchange here would mean the
    // formula degraded to a global sort, the exact shape the operator
    // exists to avoid at 100 TB.
    val p = plan("pipeline_training_order")
    assert(!p.contains("SinglePartition"),
      "pipeline_training_order plans a single-partition stage")
    assert(p.contains("Window"), "expected the per-shard row_number window")
  }

  test("q17/q18: exactly one lineitem scan (r9 single-scan rewrites)") {
    // both queries used to carry a second full-lineitem pass (groupBy-avg
    // join in q17, semi + re-aggregation in q18); the rewrites fold it
    // into one scan, and a second Location line on the fact table would
    // mean the fold regressed.
    Seq("q17_small_quantity_revenue", "q18_large_volume_customers").foreach { n =>
      val scans = plan(n).linesIterator.count(_.contains("lineitem.parquet"))
      assert(scans == 1, s"$n scans lineitem $scans times, expected 1")
    }
  }

  test("dedup joins are keyed (shuffled on content keys, not all-pairs)") {
    Seq("dedup_ngram_jaccard", "dedup_ngram_jaccard_capped",
        "dedup_minhash_lsh", "dedup_simhash").foreach { n =>
      val p = plan(n)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"), s"$n is not an equi join")
      assert(!p.contains("NestedLoop"), s"$n fell back to a nested loop")
    }
  }

  test("span family: gram join is keyed; the cut's coverage join is a broadcast anti join") {
    val spans = plan("dedup_duplicate_spans")
    assert(spans.contains("SortMergeJoin") || spans.contains("ShuffledHashJoin")
      || spans.contains("BroadcastHashJoin"), "span gram join is not an equi join")
    assert(!spans.contains("NestedLoop") && !spans.contains("CartesianProduct"),
      "span detection fell off the inverted-index join path")
    val cut = plan("pipeline_span_dedup_cut")
    assert(cut.contains("LeftAnti"), "span cut lost its anti-join coverage shape")
    assert(cut.contains("BroadcastHashJoin"),
      "the tiny span frame should broadcast into the coverage anti join")
  }

  test("minhash estimate-quality: exact side is candidate-scoped and broadcast") {
    // r6 hotspot fix: the exact-Jaccard side must never shuffle the full
    // shingle table — candidates are broadcast (est joins + the left-semi
    // pair filter) and the shingle table is pruned through a broadcast
    // semi-join on candidate docs before any self-join.
    val p = plan("dedup_minhash_estimate_quality")
    assert(p.contains("BroadcastHashJoin"),
      "candidate set is not broadcast in the exact-verification joins")
    assert(p.contains("LeftSemi"),
      "pair filter lost its left-semi shape (candidate scoping regressed)")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "estimate-quality fell off the equi-join path")
  }

  test("prebuilt ANN probe plans never rescan or recompute the index") {
    // building the query df materializes the pinned index as a side
    // effect; the PROBE plan itself must read only the checkpointed
    // index rows — zero parquet scans, zero norm/signature recomputation
    Seq("ann_cosine_topk_ivf_prebuilt", "ann_cosine_topk_hyperlsh_prebuilt",
        "ann_ivfadc_prebuilt", "ann_ivfadc_batch_topk").foreach { name =>
      val p = plan(name)
      assert(!p.toLowerCase.contains("parquet"),
        s"$name rebuilds the index from the embeddings parquet")
      assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
        s"$name does not read the checkpointed index")
      assert(p.contains("BroadcastHashJoin"),
        s"$name lost the broadcast equi-join shape")
    }
  }

  test("curation wave: model frames broadcast into the token/code scans") {
    // dsir joins every token to the ≤4096-row feature frame and oov
    // joins every token to the 16-row vocab — those plans must carry
    // ONLY broadcast joins: a sort-merge there would shuffle the full
    // token table against a model frame thousands of times smaller,
    // the inverted shape at 100 TB. RQ additionally joins corpus-sized
    // frames to EACH OTHER on (vec_id, s) (assignment↔subvector in the
    // update and error passes) — a keyed shuffle join is the correct
    // shape for those, so RQ only pins that its codebook joins
    // broadcast.
    Seq("pipeline_dsir_domain_votes", "text_vocab_oov_audit").foreach { n =>
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"),
        s"$n lost its broadcast model-frame join")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$n shuffles the corpus side against a broadcast-sized model frame")
    }
    assert(plan("ann_rq_reconstruction_gain").contains("BroadcastHashJoin"),
      "ann_rq_reconstruction_gain lost its broadcast codebook joins")
  }

  test("P1/P3 derived chain materializes each doc map lookup exactly once") {
    // the catalog projection / tarball-URL extraction derive latest,
    // latest_version_doc and latest_time_str from three map lookups;
    // staged withColumn aliases must keep each lookup single in the
    // optimized plan, with no custom optimizer rule loaded — a collapse
    // regression would re-evaluate the versions-map access once per
    // derived column
    import spark.implicits._
    val raw = spark.createDataset(graft.npm.Fixtures.withFetch404).toDF("value")
    val derived = graft.npm.Pipeline.withDerived(
        graft.npm.Pipeline.normalize(graft.npm.Pipeline.parse(raw)))
      .select("id", "latest", "tarball_url", "tarball_size",
        "latest_time_str", "save_path", "reject_reason")
    val opt = derived.queryExecution.optimizedPlan.toString
    Seq("versions", "dist-tags", "time").foreach { m =>
      val n = s"element_at\\(doc#\\d+\\.$m".r.findAllIn(opt).size
      assert(n == 1, s"doc.$m looked up $n times in the optimized plan (want 1):\n$opt")
    }
  }

  test("semver_clean runs in a codegen span and matches the pure function") {
    graft.functions.SemverExpressions.register(spark)
    val df = Tables.part(spark, dir)
      .selectExpr("p_brand", "semver_clean(concat('v1.', p_size % 10, '.0')) AS c",
        "semver_clean(p_brand) AS garbage")
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("codegen id"), "projection not in a codegen span")
    // fallback=false turns a broken doGenCode into a hard failure instead
    // of a silent interpreted fallback
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val rows = df.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getString(1) != null && r.getString(1).startsWith("1."))
        assert(r.isNullAt(2), s"'${r.getString(0)}' should be uncleanable")
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }
}
