package graft.operators

import graft.SparkSpec

/** Substance gates for the round-15 wave beyond the re-pinned recall
  * floor (Round14Spec) and the checkpoint-manager protocol pins
  * (CheckpointManagerSpec).
  */
class Round15Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("pinned IVFADC build pins exactly its probe-read frames, not the rsub intermediate") {
    // r14 advice item 1: the pinned build used to leave the rsub
    // residual-slice checkpoint (corpus × 8 rows — a full extra copy of
    // the embedding data) pinned for the whole session though no probe
    // reads it once `codes` materializes. The build must pin exactly
    // vecs + cents + cb1 + codes = 4 storage entries.
    val s = spark.newSession() // fresh session ⇒ fresh PinnedStorage.Surface entry
    val before = s.sparkContext.getPersistentRDDs.keySet
    graft.SparkEntry.queries("ann_ivfadc_prebuilt")(s, dir).count(): Unit
    val pinnedByBuild = s.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(pinnedByBuild.size == 4,
      s"pinned IVFADC build left ${pinnedByBuild.size} storage entries " +
        "(expected exactly vecs/cents/cb1/codes = 4 — a 5th means a dead " +
        "build intermediate is riding the session again)")
  }

  test("greedy SEARCH recall holds its floor in the universe the graph can reach") {
    // the r15 gate that forced the IVF-seeded entry: the search is
    // priced against the exact top-3 WITHIN each query's cell
    // (n_found_cell) next to the global top-3 (n_found_global). Since
    // r16 the navigable artifact carries CROSS-CELL long-range links,
    // so the walk can leave its entry cell: beam-best may legitimately
    // exceed cell-best (it does for qid 1 at sf0.01), and the global
    // column is no longer ~0 — its floor is pinned in Round16Spec. A
    // navigation change that strands the walk (e.g. reverting to a
    // global entry) zeroes the cell columns and fails here.
    // r17 note: the cell-column floors were lowered when the cross-cell
    // layer widened to CrossA=4 — on this random-label corpus a beam
    // that finds globally BETTER nodes must evict own-cell ones, so
    // cell hits fell (11→4) while global hits (4→10) and beam quality
    // (0.76→0.91) rose; Round17Spec pins the global/quality floors.
    // r18 (r17 advice): the 2/30 floor was nearly vacuous — a change
    // collapsing cell recall while keeping global intact passed every
    // spec. At the folded dials (NavHops=5, corpus-aware beam) the
    // deterministic measurement is cell 5/30 + global 11/30 at sf0.01;
    // pin cell at measured−1 AND a combined floor so a cell-path
    // regression is observable even when the global column holds.
    val rows = graft.SparkEntry.queries("ann_recall_greedy_vs_exact")(spark, dir).collect()
    assert(rows.length == 10, s"${rows.length} qids")
    val nCell = rows.map(_.getLong(1)).sum
    val nGlobal = rows.map(_.getLong(3)).sum
    assert(nCell >= 4, s"cell-scoped search recall collapsed: $nCell/30 found " +
      "(measured 5/30 at the folded NavHops=5 dial)")
    assert(nCell + nGlobal >= 13,
      s"combined recall fell: cell $nCell + global $nGlobal < 13 (measured 5+11)")
    // cell-best never exceeds global-best by definition, and the beam
    // (scored exactly against the full corpus vectors it visits) can
    // never beat the exact global top-1
    rows.foreach { r =>
      assert(r.getDouble(4) <= r.getDouble(6) + 1e-12 &&
        r.getDouble(5) <= r.getDouble(6) + 1e-12,
        s"qid=${r.getLong(0)} cosine ordering violated: beam ${r.getDouble(4)}, " +
          s"cell ${r.getDouble(5)}, global ${r.getDouble(6)}")
    }
  }

  test("batched probes at swept batch sizes stay consistent with the declared arms") {
    // the batch-size sweep (DESIGN.md round 15) is only meaningful if a
    // bigger batch is a SUPERSET run of the smaller one: every query
    // present in both must get identical neighbors (the shared ADC
    // scan/hop joins serve each query independently)
    val q100 = AnnSearch.ivfAdcBatchProbe(spark, dir, 100L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    val q250 = AnnSearch.ivfAdcBatchProbe(spark, dir, 250L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5)))
      .filter(_._1 < 100L)
    assert(q100.length == 500 && q250.length == 500,
      s"batch shapes: ${q100.length} vs ${q250.length}")
    assert(q100.sorted.sameElements(q250.sorted),
      "growing the batch changed a smaller batch's results — the probe " +
        "is not per-query independent")
  }
}
