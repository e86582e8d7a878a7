package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Substance gates for the round-16 wave: the cross-cell edge layer
  * (global recall off zero), the symmetric delta direction, the
  * audit-class SF guard, and the batched-serving broadcast ceiling.
  */
class Round16Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("cross-cell links move GLOBAL greedy recall off zero") {
    // r15 verdict item 2: the capped graph was intra-cell by
    // construction — zero cross-cell edges, so the composed index
    // (quantizer routes, graph serves) pruned whatever the quantizer
    // pruned and global recall was ~0 BY CONSTRUCTION. r17 widened the
    // layer to CrossA=4 adjacent cells × CrossKPerCell=3 (measured at
    // sf0.01: global 10/30, quality 0.907 — the DESIGN.md r17 sweep's
    // peak). The old cell-column floors (cell ≥ 10, top-1 ≥ 3) are
    // deliberately superseded: on this corpus labels are random w.r.t.
    // cosine (TESTDATA), so the own-cell top-3 and the global top-3 are
    // nearly disjoint sets and a B=3 beam that finds globally BETTER
    // nodes must evict own-cell ones — cell hits falling while global
    // hits and beam quality rise is the index working. Round17Spec
    // pins the new global and quality floors; here only the
    // off-zero sanity of both columns remains.
    val rows = graft.SparkEntry.queries("ann_recall_greedy_vs_exact")(spark, dir).collect()
    val nGlobal = rows.map(_.getLong(3)).sum
    val nCell = rows.map(_.getLong(1)).sum
    assert(nGlobal >= 2, s"global greedy recall back to ~zero: $nGlobal/30 — " +
      "did the navigable edge set lose its cross-cell layer?")
    assert(nCell >= 2, s"cell recall collapsed: $nCell/30")
  }

  test("cross-cell edges are bounded, adjacent-cell-only, per-cell-capped") {
    val df = graft.SparkEntry.queries("ann_knn_graph_crosscell")(spark, dir)
    val e = graft.Tables.embeddings(spark, dir).select("vec_id", "label")
    val joined = df.join(e.withColumnRenamed("vec_id", "qid")
        .withColumnRenamed("label", "qlabel"), "qid")
      .join(e.withColumnRenamed("vec_id", "cand_id")
        .withColumnRenamed("label", "clabel"), "cand_id")
    // every cross edge leaves its own cell (that is its whole point)
    assert(joined.filter(col("qlabel") === col("clabel")).count() == 0,
      "cross-cell edge landed in its own cell")
    // each node: at most CrossA target cells, ≤ CrossKPerCell edges
    // into each, so ≤ CrossA·CrossKPerCell edges total
    val maxN = AnnSearch.CrossA * AnnSearch.CrossKPerCell
    val per = joined.groupBy("qid")
      .agg(count(lit(1)).as("n"), countDistinct("clabel").as("cells"))
    assert(per.filter(col("n") > maxN).count() == 0,
      s"more than CrossA*CrossKPerCell=$maxN edges on a node")
    assert(per.filter(col("cells") > AnnSearch.CrossA).count() == 0,
      s"a node's cross edges target more than CrossA=${AnnSearch.CrossA} cells")
    val perCell = joined.groupBy("qid", "clabel").agg(count(lit(1)).as("n"))
    assert(perCell.filter(col("n") > AnnSearch.CrossKPerCell).count() == 0,
      s"more than CrossKPerCell=${AnnSearch.CrossKPerCell} edges into one cell")
  }

  test("reverse delta maintenance is the transpose universe of the forward arm") {
    val rev = graft.SparkEntry.queries("ann_knn_graph_delta_reverse")(spark, dir)
      .collect()
    assert(rev.nonEmpty, "reverse delta produced no rows")
    // nodes are existing corpus members, arrivals are the %7==3 cohort
    rev.foreach { r =>
      assert(r.getLong(0) % 7 != 3, s"node ${r.getLong(0)} is an arrival")
      assert(r.getLong(2) % 7 == 3, s"arrival ${r.getLong(2)} is not in the delta cohort")
    }
    // per node, ranks are 1..k with cos non-increasing (the merge step's
    // input contract: the best arrival candidate first)
    rev.groupBy(_.getLong(0)).foreach { case (node, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq,
        s"node $node ranks not contiguous")
      val coss = sorted.map(_.getDouble(3))
      assert(coss.zip(coss.drop(1)).forall { case (a, b) => a >= b - 1e-12 },
        s"node $node cos not non-increasing")
    }
    // both directions read the same candidate frame: every reverse pair
    // (arrival, node) must be one the capped rounds can generate — spot
    // check via the forward arm's own pair set restricted to rank<=3
    // is NOT a superset (different keying), so instead check cohort
    // sizes are sane: reverse touches at most |old| nodes
    val nNodes = rev.map(_.getLong(0)).distinct.length
    val nOld = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 7 =!= 3).count()
    assert(nNodes <= nOld, s"$nNodes reverse nodes > $nOld corpus nodes")
  }

  test("audit guard: exhaustive below threshold, fixed-size systematic sample above") {
    import spark.implicits._
    val small = spark.range(3000).toDF("id")
    assert(AuditGuard.sample(small, "id").count() == 3000,
      "guard must be a no-op below AuditFullRows")
    val big = spark.range(20000).toDF("id")
    // modulus = floor(20000 / 2000) = 10 → the ids whose multiplicative
    // hash ≡ 0 (mod 10); hash-systematic since r17 (r16 advice: a raw
    // id-mod sample collapses on stride-aligned id spaces). The kept
    // count is deterministic but ~keep, not exactly keep: 2000 measured
    // over the dense 0..19999 range.
    def h(id: Long): Long = ((id % AuditGuard.HashP) * AuditGuard.HashQ) % AuditGuard.HashP
    val kept = AuditGuard.sample(big, "id").collect().map(_.getLong(0))
    assert(kept.length == 2000, s"expected 2000 audited rows, got ${kept.length}")
    assert(kept.forall(h(_) % 10 == 0), "audit sample is not the hash-systematic 1-in-M set")
    // the guard keeps the audited cardinality ~constant as the corpus
    // grows — the property that turns O(n²) audits into O(keep · n)
    val bigger = spark.range(100000).toDF("id")
    assert(AuditGuard.sample(bigger, "id").count() == 2003,
      "audited cardinality must not grow with the corpus")
    // the decoupling the hash buys: an all-even (stride-2) id space
    // still yields a ~keep-sized sample where the raw id-mod predicate
    // would have kept every row (M=10 even) or none
    val strided = spark.range(20000).toDF("id").select((col("id") * 2).as("id"))
    val nStrided = AuditGuard.sample(strided, "id").count()
    assert(nStrided > 1000 && nStrided < 4100,
      s"stride-aligned id space broke the sample: kept $nStrided of 20000")
  }

  test("batched serving arms enforce the broadcast ceiling as code, not prose") {
    // r15 verdict item 6: DESIGN extrapolated the IVFADC batch broadcast
    // ceiling at Q≈10⁵; make the bound arithmetic + enforcement. The
    // distance table is the largest query-sided broadcast at
    // AdcBroadcastRowsPerQuery = W·M·K rows per query.
    assert(AnnSearch.AdcBroadcastRowsPerQuery == 256L,
      s"distance-table row formula drifted: ${AnnSearch.AdcBroadcastRowsPerQuery}")
    val worstCaseBytes = AnnSearch.MaxBatchQ * AnnSearch.AdcBroadcastRowsPerQuery * 64L
    assert(worstCaseBytes < 8L * 1024 * 1024 * 1024 / 4,
      f"MaxBatchQ=${AnnSearch.MaxBatchQ} puts the distance table at " +
        f"$worstCaseBytes%d B — inside 2 GiB (4x headroom under Spark's 8 GiB " +
        "broadcast hard limit) is the contract")
    // and the probes fail fast instead of handing Spark the broadcast
    intercept[IllegalArgumentException] {
      AnnSearch.ivfAdcBatchProbe(spark, dir, AnnSearch.MaxBatchQ + 1)
    }
    intercept[IllegalArgumentException] {
      AnnSearch.greedyBatchProbe(spark, dir, AnnSearch.MaxBatchQ + 1)
    }
  }
}
