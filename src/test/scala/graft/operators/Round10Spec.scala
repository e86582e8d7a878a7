package graft.operators

import java.sql.Timestamp

import scala.util.Random

import graft.SparkSpec

/** Round-10 operators: chi-square, rank-sum U, triangle census, CDC
  * merge, zone-map pruning, k-anonymity/l-diversity, vocabulary growth,
  * rule-vote labeling — each pinned against a scalar reference or a
  * corpus constructed so every branch's expected value is known.
  */
class Round10Spec extends SparkSpec {

  private def tmp(p: String) = graft.TmpDirs.create(s"graft-$p")

  test("chi2: independent uniform cells have near-zero statistic; a loaded cell dominates") {
    import spark.implicits._
    // 2 priorities x 2 statuses, perfectly proportional => chi2 = 0
    val flat = for {
      p <- Seq("P1", "P2"); st <- Seq("O", "F"); i <- 1 to 10
    } yield (p.hashCode.toLong * 100 + st.hashCode + i, 1L, st, 0.0, Timestamp.valueOf("2024-01-01 00:00:00"), p)
    val dir = tmp("chi2")
    flat.map { case (ok, ck, st, tp, od, pr) => (ok, ck, st, tp, od, pr) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = AnalyticsExtra.defs.find(_.name == "stats_chi2_independence").get
      .run(spark, dir).collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getAs[Long]("chi2_ppm") == 0L),
      s"proportional table must give chi2=0: ${rows.mkString(";")}")

    // scalar cross-check on a skewed table
    val skew = Seq(("P1", "O", 30), ("P1", "F", 10), ("P2", "O", 10), ("P2", "F", 30))
    val skewRows = skew.flatMap { case (p, st, n) =>
      (1 to n).map(i => ((p + st).hashCode.toLong * 1000 + i, 1L, st, 0.0,
        Timestamp.valueOf("2024-01-01 00:00:00"), p))
    }
    val dir2 = tmp("chi2b")
    skewRows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir2/orders.parquet")
    val got = AnalyticsExtra.defs.find(_.name == "stats_chi2_independence").get
      .run(spark, dir2).collect()
    val n = BigInt(80)
    val expect = skew.map { case (p, st, o) =>
      val r = BigInt(skew.filter(_._1 == p).map(_._3).sum)
      val c = BigInt(skew.filter(_._2 == st).map(_._3).sum)
      val eMilli = r * c * 1000 / n
      val dMilli = BigInt(o) * 1000 - eMilli
      (p, st) -> (dMilli * dMilli * 1000 / eMilli).toLong
    }.toMap
    got.foreach { r =>
      val k = (r.getAs[String]("priority"), r.getAs[String]("status"))
      assert(r.getAs[Long]("contrib_ppm") == expect(k), s"cell $k")
    }
    assert(got.head.getAs[Long]("chi2_ppm") == expect.values.sum)
  }

  test("rank-sum U matches a scalar doubled-average-rank reference with ties (fuzz)") {
    import spark.implicits._
    val rnd = new Random(101)
    for (round <- 1 to 3) {
      val docs = (0L until 60L).map { id =>
        val src = if (id % 2 == 0) "src0" else "src1"
        // small value domain => heavy ties
        val len = 1 + rnd.nextInt(6) + (if (src == "src1") rnd.nextInt(3) else 0)
        (id, Seq.fill(len)("w").mkString(" "), src)
      }
      val dir = tmp(s"rs$round")
      docs.toDF("doc_id", "text", "source").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val vals = docs.map { case (_, t, s) => (s, t.split(" ").length.toLong) }
      val pooled = vals.map(_._2).sorted
      def r2(v: Long): Long = {
        val l = pooled.count(_ < v); val g = pooled.count(_ == v)
        2L * l + g + 1
      }
      val n1 = vals.count(_._1 == "src0").toLong
      val n2 = vals.count(_._1 == "src1").toLong
      val r1x2 = vals.filter(_._1 == "src0").map(v => r2(v._2)).sum
      val u1x2 = r1x2 - n1 * (n1 + 1)
      val row = AnalyticsExtra.defs.find(_.name == "stats_rank_sum_u").get
        .run(spark, dir).collect()(0)
      assert(row.getAs[Long]("n1") == n1 && row.getAs[Long]("n2") == n2)
      assert(row.getAs[Long]("u1_x2") == u1x2, s"round $round")
      assert(row.getAs[Long]("u2_x2") == 2 * n1 * n2 - u1x2)
      assert(row.getAs[Long]("auc_ppm") == u1x2 * 1000000L / (2 * n1 * n2))
    }
  }

  test("triangle census matches brute force on random co-membership graphs (fuzz)") {
    import spark.implicits._
    val rnd = new Random(77)
    for (round <- 1 to 3) {
      val pairs = (for {
        ok <- 1L to 12L; pk <- 1L to 10L if rnd.nextInt(3) == 0
      } yield (ok, pk)).distinct
      val dir = tmp(s"tri$round")
      pairs.map { case (ok, pk) => (ok, pk, 1L) }
        .toDF("l_orderkey", "l_partkey", "l_suppkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // brute force over co-order part pairs
      val byPart = pairs.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
      val pks = byPart.keys.toSeq.sorted
      val edges = (for {
        i <- pks; j <- pks if i < j
        if (byPart(i) & byPart(j)).nonEmpty
      } yield (i, j)).toSet
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val nbrs = (v: Long) => adj.getOrElse(v, Set.empty[(Long)])
      val tris = (for {
        (a, b) <- edges; c <- nbrs(a) if c > b && nbrs(b).contains(c)
      } yield (a, b, c)).size
      val wedges = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
      val row = GraphIterative.triangleCount.run(spark, dir).collect()(0)
      assert(row.getAs[Long]("n_edges") == edges.size.toLong, s"round $round edges")
      assert(row.getAs[Long]("n_triangles") == tris.toLong, s"round $round triangles")
      assert(row.getAs[Long]("n_wedges") == wedges)
      if (wedges > 0)
        assert(row.getAs[Long]("closure_ppm") == BigInt(3) * tris * 1000000 / wedges)
    }
  }

  test("cdc merge classifies carried/updated/inserted/deleted exactly") {
    import spark.implicits._
    def ev(id: Long, day: Int, user: Long, typ: String) =
      (id, Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), user, typ, 1.0, "{}")
    // user 1: base view, delta purchase      -> updated, purchase
    // user 2: base click, no delta           -> carried, click
    // user 3: base view, delta error         -> deleted
    // user 4: no base, delta signup          -> inserted, signup
    // user 5: base view+click (latest click), no delta -> carried, click
    val events = Seq(
      ev(1, 2, 1, "view"), ev(2, 20, 1, "purchase"),
      ev(3, 3, 2, "click"),
      ev(4, 4, 3, "view"), ev(5, 21, 3, "error"),
      ev(6, 22, 4, "signup"),
      ev(7, 5, 5, "view"), ev(8, 6, 5, "click"))
    val dir = tmp("cdc")
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventOps.cdcMerge.run(spark, dir).collect()
      .map(r => (r.getAs[String]("change_kind"), r.getAs[String]("final_state")) ->
        r.getAs[Long]("n_users")).toMap
    assert(got == Map(
      ("updated", "purchase") -> 1L,
      ("carried", "click") -> 2L,
      ("deleted", "-") -> 1L,
      ("inserted", "signup") -> 1L))
  }

  test("zone maps prune the date-sorted layout but not the hash layout") {
    val dir = "/root/testdata/sf0.01"
    val rows = ScalePatterns.zonemapPrune.run(spark, dir).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    val ds = rows("datesort16"); val h = rows("hash16")
    assert(h.getAs[Long]("shards_scanned") == 16L,
      "hash shards all span the full date domain")
    assert(ds.getAs[Long]("shards_scanned") <= 2L,
      s"date-sorted layout must prune to the boundary shards: $ds")
    assert(ds.getAs[Long]("rows_matched") == h.getAs[Long]("rows_matched"),
      "layout must never change the answer")
    assert(ds.getAs[Long]("scan_waste_ppm") < h.getAs[Long]("scan_waste_ppm"))
  }

  test("k-anonymity and l-diversity surface planted violations") {
    import spark.implicits._
    // QI class (1,'A'): 2 members (violates k>=5), balances in one band
    // QI class (2,'B'): 6 members, balances spread over 3 bands
    val cust =
      Seq((1L, "a", 1, 100.0, "A"), (2L, "b", 1, 150.0, "A")) ++
        (3L to 8L).map(i => (i, s"c$i", 2, (i - 3) * 2000.0 + 10.0, "B"))
    val dir = tmp("anon")
    cust.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val k = PrivacyOps.kAnonymity.run(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r).toMap
    assert(k(2L).getAs[Long]("n_classes") == 1L && k(2L).getAs[Boolean]("violates"))
    assert(k(6L).getAs[Long]("n_classes") == 1L && !k(6L).getAs[Boolean]("violates"))
    val l = PrivacyOps.lDiversity.run(spark, dir).collect()
      .map(r => r.getAs[Long]("l") -> r).toMap
    assert(l(1L).getAs[Boolean]("homogeneous") && l(1L).getAs[Long]("n_customers") == 2L)
    assert(l(6L).getAs[Long]("n_classes") == 1L, s"six distinct 2000-bands: $l")
  }

  test("vocab growth matches a scalar first-occurrence reference (fuzz)") {
    import spark.implicits._
    val rnd = new Random(55)
    val vocab = (1 to 40).map(i => s"w$i")
    val docs = (0L until 50L).map { id =>
      (id, Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "), "s")
    }
    val dir = tmp("vg")
    docs.toDF("doc_id", "text", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val sliceOf = (id: Long) => (id - 0) * 10 / 50
    val firstSlice = docs.flatMap { case (id, t, _) => t.split(" ").map(_ -> id) }
      .groupBy(_._1).map { case (w, occ) => sliceOf(occ.map(_._2).min) }
    val expVocabBySlice = (0L to 9L).map(s => firstSlice.count(_ <= s).toLong)
    val got = graft.functions.TextAnalysis.vocabGrowth.run(spark, dir).collect()
    assert(got.map(_.getAs[Long]("cum_vocab")).toSeq == expVocabBySlice)
    assert(got.last.getAs[Long]("cum_tokens") ==
      docs.map(_._2.split(" ").length.toLong).sum)
  }

  test("rule votes: each labeling branch and the conflict path fire as constructed") {
    import spark.implicits._
    val docs = Seq(
      // 50 tokens incl 'vector': lf_tech=1, lf_length=1, lf_repeat abstain? distinct high -> keep
      (1L, ((1 to 49).map(i => s"u$i") :+ "vector").mkString(" "), "s"),
      // 3 tokens: lf_tech abstains (<5), lf_length=0 (<8), repeat abstains -> drop
      (2L, "tiny doc here", "s"),
      // drop by majority: 40 repeats of one token (tech=0, length=1, repeat=0)
      (3L, Seq.fill(40)("x").mkString(" "), "s"),
      // conflict: 40 distinct tokens, no term (tech=0, length=1, repeat abstains)
      (4L, (1 to 40).map(i => s"z$i").mkString(" "), "s"))
    val dir = tmp("lf")
    docs.toDF("doc_id", "text", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val r = PipelineCompositions.ruleVotes.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("covered") == 4L, s"every doc gets >=1 vote here: $r")
    assert(r.getAs[Long]("labeled_keep") == 1L)
    assert(r.getAs[Long]("labeled_drop") == 2L, s"$r")
    assert(r.getAs[Long]("conflicts") == 1L, s"doc4 ties 1-1: $r")
  }
}
