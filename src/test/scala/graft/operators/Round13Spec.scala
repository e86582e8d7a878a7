package graft.operators

import graft.{SparkSpec, SparkEntry}

/** Substance gates for the round-13 wave — each pins the property that
  * makes the operator WORTH running, not just its oracle agreement:
  * Neyman allocation must actually favor variance, the Markov power
  * iteration must actually converge and conserve mass, and IVFADC must
  * actually prune to the probed cells while keeping measurable recall.
  */
class Round13Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("neyman: allocation discriminates — a high-variance stratum outdraws a constant one") {
    import spark.implicits._
    val d = graft.TmpDirs.create("graft-neyman")
    // stratum A: 300 orders all exactly 100.00 (S=0); stratum B: 300
    // orders alternating 10.00 / 990.00 (huge S). Neyman gives B nearly
    // the whole budget; proportional allocation would split 50/50.
    val rows = (1 to 300).map(i => (i.toLong, "A", 100.0)) ++
      (301 to 600).map(i => (i.toLong, "B", if (i % 2 == 0) 10.0 else 990.0))
    rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    val out = SparkEntry.queries("sample_stratified_neyman")(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out("A") == 0L, s"zero-variance stratum must get 0 of the budget, got ${out("A")}")
    assert(out("B") >= 900L, s"the variance carrier must get ~all of K=1000, got ${out("B")}")
  }

  test("neyman: on the driver corpus the budget is spent and per-stratum draws are exact") {
    val rows = SparkEntry.queries("sample_stratified_neyman")(spark, dir).collect()
    val allocs = rows.map(_.getLong(3))
    val drawn = rows.map(_.getLong(4))
    assert(allocs.sum <= 1000 && allocs.sum >= 1000 - rows.length,
      s"integer allocation must spend K=1000 up to floor loss, got ${allocs.sum}")
    assert(allocs.sameElements(drawn),
      "every stratum must draw exactly its allocation (hash top-k refinement)")
  }

  test("markov: mass is conserved to floor loss and iteration 3 has converged") {
    val rows = SparkEntry.queries("event_markov_stationary")(spark, dir).collect()
    val n = rows.length
    Seq(1, 2, 3, 4).foreach { c => // x0..x3 columns
      val mass = rows.map(_.getLong(c)).sum
      // each of the three steps loses < n·|types| ppm to the per-term DIV
      assert(mass <= 1000000 && mass >= 1000000 - 3 * n * n,
        s"column $c mass $mass outside the floor-loss band")
    }
    val worstDelta = rows.map(_.getLong(5)).max
    assert(worstDelta <= 50, s"power iteration not converged: max |x3-x2| = $worstDelta ppm")
  }

  test("markov: a sink type absorbs instead of silently draining the distribution") {
    // r13 advisory: a type absent from m.from_type contributed nothing
    // to x_{k+1}, so its inbound mass vanished each step (substochastic
    // matrix) — and because the DuckDB twin shared the bug, the oracle
    // could never catch it. The fix makes sinks absorbing (implicit
    // self-loop); this corpus has one (S receives but never emits) and
    // pins BOTH conservation and absorption.
    import spark.implicits._
    val d = graft.TmpDirs.create("graft-sink")
    def ev(id: Long, u: Long, sec: Int, t: String) =
      (id, java.sql.Timestamp.valueOf(f"2026-01-01 00:00:$sec%02d"), u, t, 1.0, "{}")
    val rows = Seq(
      ev(1, 1, 1, "A"), ev(2, 1, 2, "B"), ev(3, 1, 3, "A"),
      ev(4, 1, 4, "B"), ev(5, 1, 5, "A"),
      ev(6, 2, 1, "A"), ev(7, 2, 2, "S"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = SparkEntry.queries("event_markov_stationary")(spark, d)
      .collect().map(r => r.getString(0) -> (1 to 4).map(r.getLong)).toMap
    val n = out.size
    (0 until 4).foreach { k =>
      val mass = out.values.map(_(k)).sum
      assert(mass <= 1000000 && mass >= 1000000 - 3 * n * n,
        s"iteration $k mass $mass not conserved with a sink present")
    }
    val s = out("S")
    assert(s(1) > s(0) && s(2) > s(1) && s(3) > s(2),
      s"sink must monotonically absorb mass, got ${s.mkString(", ")}")
  }

  test("fertility: globally-mined merges favor the majority stream") {
    // injected corpus pinning the DISCRIMINATION the operator exists
    // for, with exact expected ppm: the majority language's bigrams win
    // the global merge table, so its words collapse (ababab -> @@@)
    // while the minority language AND the part_name stream — whose
    // bigrams rank below the top-5 — keep paying one token per char.
    // (The driver corpus shows the same gap organically now that the
    // part stream is in the union — see the sf0.01 test below.)
    import spark.implicits._
    val d = graft.TmpDirs.create("graft-fert")
    val majWords = Seq("ababab", "efefef", "ghghgh", "ijijij", "klklkl")
    val rows =
      (1 to 90).map(i => (i.toLong, "en", "web",
        Seq.fill(6)(majWords(i % 5)).mkString(" "))) ++
      (91 to 100).map(i => (i.toLong, "xx", "web",
        Seq.fill(6)("mnmnmn").mkString(" ")))
    rows.toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // qr bigram count (20·3=60) stays far below the majority pairs'
    // (324), so part_name never enters the top-5 merge table
    (1 to 20).map(i => (i.toLong, "qrqrqr", "B", "T", 1, java.math.BigDecimal.ONE))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$d/part.parquet")
    val out = SparkEntry.queries("text_tokenizer_fertility")(spark, d)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out("doc:en") == 3000000L,
      s"majority words must collapse 6 chars -> 3 tokens, got ${out("doc:en")} ppm")
    assert(out("doc:xx") == 6000000L,
      s"minority words must stay at 1 token/char, got ${out("doc:xx")} ppm")
    assert(out("part_name") == 6000000L,
      s"part stream must stay at 1 token/char, got ${out("part_name")} ppm")
  }

  test("fertility: the driver corpus itself shows a per-stream gap") {
    // r13 verdict item 6: before the part stream joined the union, the
    // shared document vocabulary made the oracle-checked artifact ~flat
    // and the discrimination evidence lived only in the injected fixture
    // above. Now the checked artifact must itself separate the streams:
    // document streams win the global merges and compress below raw
    // chars; the part stream's disjoint vocabulary stays near 1
    // token/char (tokens_per_word ≈ chars_per_word).
    val rows = SparkEntry.queries("text_tokenizer_fertility")(spark, dir).collect()
    val fert = rows.map(r => r.getString(0) ->
      (r.getLong(3).toDouble / r.getLong(2))).toMap // tokens/chars ratio
    val docF = fert.collect { case (s, f) if s.startsWith("doc:") => f }
    assert(fert.contains("part_name") && docF.nonEmpty, s"streams: ${fert.keys}")
    val worstDoc = docF.max
    assert(fert("part_name") > worstDoc + 0.05,
      f"no fertility gap on driver data: part ${fert("part_name")}%.3f vs " +
        f"worst doc stream $worstDoc%.3f")
  }

  test("greedy graph search: beams are exact-sorted and the best never degrades") {
    val rows = SparkEntry.queries("ann_knn_graph_greedy_search")(spark, dir).collect()
    val byHop = rows.groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getLong(1))).toMap
    assert(byHop(0L).length == 1 && (1L to 3L).forall(byHop(_).length == 3),
      s"trace shape wrong: ${rows.length} rows")
    byHop.values.foreach { b =>
      val cs = b.map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, c) => a >= c }, "beam not cos-sorted")
    }
    val best = (0L to 3L).map(h => byHop(h).head.getDouble(3))
    assert(best.zip(best.tail).forall { case (a, c) => c >= a },
      s"greedy best-of-beam degraded across hops: ${best.mkString(", ")}")
    // the beam's WORST slot must improve as hops expand the frontier —
    // the signal that navigation is actually exploring, not frozen
    assert(byHop(3L).last.getDouble(3) >= byHop(1L).last.getDouble(3),
      "hop-3 beam tail did not improve on hop-1")
  }

  test("ivfadc: scan is cell-pruned, re-rank is exact-ordered, recall is measurable") {
    val rows = SparkEntry.queries("ann_ivfadc_topk")(spark, dir).collect()
    assert(rows.length == 10)
    val cells = rows.map(_.getLong(2)).distinct
    assert(cells.length <= 2, s"candidates leaked outside the W=2 probed cells: ${cells.mkString(",")}")
    val exact = rows.map(_.getLong(4))
    assert(exact.sameElements(exact.sorted), "re-ranked output not in exact-distance order")
    val recall = rows.count(_.getBoolean(5))
    assert(recall >= 2, s"recall@10 after re-rank collapsed: $recall/10 " +
      "(3/10 at the sf0.01 gate when built — W=2 cell pruning plus 4-bit " +
      "residual codes on near-noise embeddings; the flag column keeps it honest)")
  }
}
