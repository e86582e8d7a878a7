package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Substance gates for the round-18 wave: the folded navigation dials
  * (NavHops=5, corpus-aware beam) floor-pinned at BOTH corpus sizes,
  * the sequential delta-maintenance contract, the new-cell audit, and
  * the capture protocol's loaded-probe acceptance rule.
  */
class Round18Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private val dirBig = "/root/testdata/sf0.1"

  test("folded dials hold the post-fold recall/quality floors at sf0.01") {
    // r17 verdict item 1 + 6: the measured laws (hop-5 convergence,
    // corpus-aware beam) are now the DECLARED configuration; at the
    // 2,000-vector corpus the dial picks B=3 and the deterministic
    // measurement is global 11/30, quality 0.9357 (DESIGN.md r18).
    // Floors with headroom under those exact values.
    val rows = graft.SparkEntry.queries("ann_recall_greedy_vs_exact")(spark, dir).collect()
    assert(rows.length == 10, s"${rows.length} qids")
    val nGlobal = rows.map(_.getLong(3)).sum
    assert(nGlobal >= 8, s"global recall lost the dial fold: $nGlobal/30 (measured 11/30)")
    val quality = rows.map(r => r.getDouble(4) / r.getDouble(6)).sum / rows.length
    assert(quality >= 0.93, f"beam quality fell to $quality%.4f (measured 0.9357)")
  }

  test("folded dials hold the recall/quality floors AT sf0.1 (the r17 honesty row, closed)") {
    // The r17 honesty row read global 1/30 at the 5,000-vector corpus
    // under the fixed HOPS=3 × B=3 budget; the measured beam law said
    // B=12 restores the small-corpus recall. With the dial folded the
    // DECLARED query now runs hops=5 × B=12 here by itself — measured
    // global 10/30, quality 0.9074. Floor-pinned so the large-corpus
    // configuration can never silently regress back to token level.
    val rows = graft.SparkEntry.queries("ann_recall_greedy_vs_exact")(spark, dirBig).collect()
    assert(rows.length == 10, s"${rows.length} qids")
    val nGlobal = rows.map(_.getLong(3)).sum
    assert(nGlobal >= 8, s"sf0.1 global recall regressed: $nGlobal/30 " +
      "(measured 10/30 at the folded hops=5 x B=12 dial)")
    val quality = rows.map(r => r.getDouble(4) / r.getDouble(6)).sum / rows.length
    assert(quality >= 0.90, f"sf0.1 beam quality fell to $quality%.4f (measured 0.9074)")
    // the beam still can never beat the exactly-scored global best
    rows.foreach { r =>
      assert(r.getDouble(4) <= r.getDouble(6) + 1e-12,
        s"qid=${r.getLong(0)} beam ${r.getDouble(4)} beat global ${r.getDouble(6)}")
    }
  }

  test("sequential delta maintenance: apply∘apply EQUALS the rebuild on the stored grid") {
    // r17 verdict item 3: the r17 gate proved ONE batch; a deployment
    // applies batches in sequence on the same stored grid. Two disjoint
    // batches (%7==3 then %7==5) through applyDeltaStep must equal —
    // bit for bit, cosines included — the capped graph rebuilt from
    // scratch over corpus0 ∪ both batches on the corpus0-census grid.
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val maintained = AnnSearch.deltaApplySequential(spark, dir)
      .collect().map(key).toSeq
    val rebuilt = AnnSearch.deltaApplySequentialRebuild(spark, dir)
      .collect().map(key).toSeq
    assert(maintained.nonEmpty, "sequential apply produced no rows")
    assert(maintained == rebuilt,
      s"twice-maintained graph diverged from the rebuild: ${maintained.size} vs " +
        s"${rebuilt.size} rows; first diff: " +
        maintained.zip(rebuilt).find { case (a, b) => a != b }
          .orElse(Some((maintained.size, rebuilt.size))).get)
  }

  test("new-cell audit: empty on this corpus, DETECTS a synthetic new-cell arrival") {
    // r17 advice: knnGraphDeltaApply drops arrivals whose label has no
    // stored-census member, and the rebuild twin shares the join, so
    // the equality gate cannot catch it. The assumption is now an
    // auditable surface: newCellArrivals names the dropped rows and
    // rebuildDue forces the re-census. Both directions gated.
    val isNew = pmod(col("vec_id"), lit(7L)) === 3
    val e = AnnSearch.index(spark, dir)
    assert(AnnSearch.newCellArrivals(e, isNew).count() == 0,
      "testdata corpus unexpectedly has new-cell arrivals — the delta rows' " +
        "oracle parity no longer covers the full delta")
    // synthetic: relabel one arrival into a label absent from the census
    val e2 = e.withColumn("label",
      when(col("vec_id") === 3, lit(999)).otherwise(col("label")))
    val dropped = AnnSearch.newCellArrivals(e2, isNew).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(dropped == Set(3L), s"new-cell audit named $dropped, expected {3}")
    // and the apply path indeed omits it — the audit is exactly the
    // set the maintenance path silently loses
    val applied = AnnSearch.applyDeltaOn(e2, isNew)
    assert(applied.filter(col("qid") === 3 || col("cand_id") === 3).count() == 0,
      "apply path produced edges for a new-cell arrival — the audit and the " +
        "join disagree about what is placeable")
  }

  test("rebuild trigger arithmetic: DeltaRebuildFrac and the new-cell override") {
    // the declared trigger (measured crossover in DESIGN.md r18:
    // stale/fresh pair inflation crosses 1.5x between f=1/3 and f=2/3
    // at sf0.1; 0.5 re-censuses before it)
    assert(AnnSearch.DeltaRebuildFrac == 0.5)
    assert(!AnnSearch.rebuildDue(cumDelta = 500, censusCorpus = 1000, newCells = 0))
    assert(AnnSearch.rebuildDue(cumDelta = 501, censusCorpus = 1000, newCells = 0))
    assert(AnnSearch.rebuildDue(cumDelta = 0, censusCorpus = 1000, newCells = 1),
      "a new-cell arrival must force the re-census regardless of volume")
  }

  test("capture protocol: loaded-probe acceptance rule is pinned in code") {
    // r17 verdict item 5: the idle-vs-loaded steal discovery is
    // load-bearing for every future baseline fold — the acceptance
    // rule (< 0.6% on a LOADED probe) lives in Bench.probeAccept and
    // BENCH_DETAIL.json carries probe_mode/probe_steal_pct/probe_accept.
    assert(graft.Bench.probeAccept(0.0))
    assert(graft.Bench.probeAccept(0.599))
    assert(!graft.Bench.probeAccept(0.6))
    assert(!graft.Bench.probeAccept(12.8))
    // the probe itself returns a sane percentage on this platform
    val p = graft.Bench.loadedStealProbe(seconds = 1, threads = 4)
    assert(p.isDefined && p.get >= 0.0 && p.get <= 100.0,
      s"loaded probe returned $p")
  }
}
