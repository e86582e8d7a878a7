package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins [[TwoStageOrder]]'s exactness against the single-partition
  * window forms it replaces: same rank, same NTILE bucket, same KMV
  * boundary — on adversarial shapes (n < t, n < K, n % t ≠ 0, skewed
  * values, single row) as well as bulk random data. The point of the
  * suite: the seven rewritten queries keep their oracle hashes because
  * these primitives are BIT-identical, not approximately right.
  */
class TwoStageOrderSpec extends SparkSpec {
  import spark.implicits._

  private def randomDf(n: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    // duplicate-heavy v so tie-breaking via id is load-bearing
    (1 to n).map(i => (i.toLong, rnd.nextInt(n / 4 + 1).toLong))
      .toDF("id", "v").repartition(7)
  }

  /** `n` plus each target struct's `field`, in target order. */
  private def values(stats: DataFrame, field: String): DataFrame =
    stats.select(col("n") +: stats.columns.filter(_ != "n").map(o => col(s"$o.$field")): _*)

  test("withGlobalRank matches global row_number under the same total order") {
    for ((n, seed) <- Seq((1, 1L), (5, 2L), (257, 3L), (1000, 4L))) {
      val df = randomDf(n, seed)
      val expected = df.withColumn("rk",
          row_number().over(Window.orderBy(asc("v"), asc("id"))))
        .select("id", "rk")
      val got = TwoStageOrder
        .withGlobalRank(df, Seq(asc("v"), asc("id")), "rk", "nt")
        .select("id", "rk", "nt")
      assert(got.select("nt").distinct().as[Long].collect().toSeq == Seq(n.toLong))
      val diff = got.select("id", "rk").except(expected)
        .union(expected.except(got.select("id", "rk")))
      assert(diff.isEmpty, s"rank mismatch at n=$n")
    }
  }

  test("ntileExact matches ntile() across random (n, t) pairs") {
    val rnd = new scala.util.Random(41L)
    for (_ <- 1 to 6) {
      val n = 1 + rnd.nextInt(500)
      val t = 1 + rnd.nextInt(40)
      val df = randomDf(n, rnd.nextLong())
      val expected = df.withColumn("b",
          ntile(t).over(Window.orderBy(asc("v"), asc("id"))))
        .select("id", "b")
      val got = TwoStageOrder
        .ntileExact(df, t, Seq(asc("v"), asc("id")), "b")
        .select("id", "b")
      val diff = got.except(expected).union(expected.except(got))
      assert(diff.isEmpty, s"ntile mismatch at n=$n t=$t")
    }
  }

  test("ntileExact matches ntile() for every t, including t > n") {
    val df = randomDf(103, 7L) // 103 % t != 0 for all tested t
    for (t <- Seq(2, 4, 7, 16, 103, 200)) {
      val expected = df.withColumn("b",
          ntile(t).over(Window.orderBy(asc("v"), asc("id"))))
        .select("id", "b")
      val got = TwoStageOrder
        .ntileExact(df, t, Seq(asc("v"), asc("id")), "b")
        .select("id", "b")
      val diff = got.except(expected).union(expected.except(got))
      assert(diff.isEmpty, s"ntile mismatch at t=$t")
    }
  }

  test("kSmallest matches rank-then-boundary, grouped and global") {
    val rnd = new scala.util.Random(11L)
    val hashed = (1 to 500).map { i =>
      (if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c",
        f"${rnd.nextLong().abs}%016x")
    }.distinct.toDF("g", "h").repartition(7)
    for (k <- Seq(1, 16, 64, 1000)) {
      val expected = hashed
        .withColumn("r", row_number().over(
          Window.partitionBy("g").orderBy(asc("h"))))
        .filter(col("r") <= k)
        .groupBy("g")
        .agg(max(when(col("r") === k, col("h"))).as("vk"),
          count(lit(1)).as("n_kept"))
      val got = TwoStageOrder.kSmallest(hashed, Seq("g"), "h", k)
      val diff = got.except(expected).union(expected.except(got))
      assert(diff.isEmpty, s"grouped kSmallest mismatch at k=$k")

      val expGlobal = hashed
        .withColumn("r", row_number().over(Window.orderBy(asc("h"))))
        .filter(col("r") <= k)
        .agg(max(when(col("r") === k, col("h"))).as("vk"),
          count(lit(1)).as("n_kept"))
      val gotGlobal = TwoStageOrder.kSmallest(hashed.select("h"), Nil, "h", k)
      val dg = gotGlobal.except(expGlobal).union(expGlobal.except(gotGlobal))
      assert(dg.isEmpty, s"global kSmallest mismatch at k=$k")
    }
  }

  test("kSmallestRows equals ORDER BY h LIMIT k, for k below and above n") {
    val df = randomDf(300, 23L)
      .select(md5(col("id").cast("string").cast("binary")).as("h"), col("id"), col("v"))
      .repartition(7)
    for (k <- Seq(1, 50, 1000)) {
      val got = TwoStageOrder.kSmallestRows(df, "h", k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val want = df.orderBy(asc("h")).limit(k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == want, s"kSmallestRows mismatch at k=$k")
      assert(got.size == math.min(k, 300))
    }
  }

  test("withRunningSums matches global running sum() windows, two columns at once") {
    for ((n, seed) <- Seq((1, 31L), (7, 32L), (257, 33L), (1200, 34L))) {
      // distinct keys (groupBy v) — the caller contract: a tie-free order
      val df = randomDf(n, seed)
        .groupBy("v").agg(sum(col("id")).as("a"), count(lit(1)).as("b"))
      val w = Window.orderBy(asc("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df
        .withColumn("ca", sum(col("a")).over(w))
        .withColumn("cb", sum(col("b")).over(w))
        .select("v", "ca", "cb")
      val got = TwoStageOrder
        .withRunningSums(df, Seq(asc("v")), Seq("a" -> "ca", "b" -> "cb"))
        .select("v", "ca", "cb")
      val diff = got.except(expected).union(expected.except(got))
      assert(diff.isEmpty, s"running-sum mismatch at n=$n")
      val bad = got.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, "withRunningSums planned a global window")
    }
  }

  test("repeated rank runs agree (sampled range boundaries cannot leak)") {
    // the r11 rewrite's one real bug class: the range partitioner samples
    // boundaries per execution, so the count frame and the rank join must
    // observe ONE materialized placement — without the checkpoint this
    // produced 17 unequal zorder buckets. Two full runs plus an internal
    // consistency check (rank is a permutation of 1..n) pin it.
    val df = randomDf(1201, 17L)
    def run() = TwoStageOrder
      .withGlobalRank(df, Seq(asc("v"), asc("id")), "rk", "nt")
      .select("id", "rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run()
    val b = run()
    assert(a == b, "two executions disagree on ranks")
    assert(a.values.toSeq.sorted == (1L to 1201L), "rank is not a permutation of 1..n")
  }

  test("orderStatistics equals sorted-multiset selection at every probed rank") {
    // the r18 bracketed-selection primitive: exact order statistics at a
    // few target ranks with zero data exchanges. Adversarial shapes:
    // single row, tie-heavy values (duplicate-heavy randomDf v), n where
    // ε·n < 1 (sketch exact) and n where ε·n > 1 (bracket load-bearing
    // at accuracy 100 ⇒ ε = 1 %), plus rank = 1 / median / n edges.
    for ((n, acc, seed) <- Seq((1, 10000, 51L), (9, 10000, 52L),
        (257, 100, 53L), (4096, 100, 54L))) {
      val df = randomDf(n, seed).select("v")
      val sorted = df.as[Long].collect().sorted
      val got = values(TwoStageOrder.orderStatisticTuples(df,
        Seq(("v", Nil, Seq(
          ("lo", 0.0, "1"),
          ("med1", 0.5, "(n + 1) DIV 2"),
          ("med2", 0.5, "(n + 2) DIV 2"),
          ("p90", 0.9, "CAST(CEIL(0.9 * n) AS BIGINT)"),
          ("hi", 1.0, "n")))), accuracy = acc), "v").collect().head
      assert(got.getLong(0) == n.toLong, s"n mismatch at n=$n")
      val expect = Seq(
        sorted(0), sorted(((n + 1) / 2) - 1), sorted(((n + 2) / 2) - 1),
        sorted(math.ceil(0.9 * n).toInt - 1), sorted(n - 1))
      val vals = (1 to 5).map(got.getLong)
      assert(vals == expect, s"order statistics mismatch at n=$n acc=$acc: $vals vs $expect")
    }
  }

  test("orderStatistics matches withGlobalRank's median on a double column") {
    // the theil-sen consumer shape: median of a double column with ties,
    // answered identically by the full rank and the bracketed selection
    val rnd = new scala.util.Random(71L)
    val df = (1 to 3001).map(_ => math.rint(rnd.nextGaussian() * 50) / 7.0)
      .toDF("slope").repartition(7)
    val viaRank = TwoStageOrder
      .withGlobalRank(df, Seq(asc("slope")), "r", "tot")
      .filter(col("r") === expr("(tot + 1) DIV 2") || col("r") === expr("(tot + 2) DIV 2"))
      .agg(avg(col("slope"))).as[Double].collect().head
    val viaSel = TwoStageOrder.orderStatisticTuples(df,
        Seq(("slope", Nil, Seq(("v1", 0.5, "(n + 1) DIV 2"), ("v2", 0.5, "(n + 2) DIV 2")))))
      .select((col("v1.slope") + col("v2.slope")) / 2.0).as[Double].collect().head
    assert(java.lang.Double.doubleToRawLongBits(viaRank) ==
      java.lang.Double.doubleToRawLongBits(viaSel),
      s"median mismatch: $viaRank vs $viaSel")
  }

  // ---- orderStatisticTuples: the r18 boundary-tuple primitive ----------

  /** NTILE buckets via cut tuples vs the ntile() window — the full
    * consumer contract (boundary selection AND the map-side comparison
    * count), on both primitive paths. */
  private def checkNtileByCuts(n: Int, t: Int, seed: Long): Unit = {
    val df = randomDf(n, seed).localCheckpoint(true)
    val cuts = TwoStageOrder.orderStatisticTuples(df,
      Seq(("v", Seq("id"), TwoStageOrder.ntileCutTargets(t, "c"))))
    val got = df.crossJoin(broadcast(cuts))
      .withColumn("b", TwoStageOrder.bucketByCuts(t, "c", "v", "id",
        col("v"), col("id")))
      .select("id", "b")
    val expected = df.withColumn("b",
        ntile(t).over(Window.orderBy(asc("v"), asc("id"))))
      .select("id", "b")
    val diff = got.except(expected).union(expected.except(got))
    assert(diff.isEmpty, s"bucket mismatch at n=$n t=$t")
  }

  test("ntile-by-cut-tuples matches ntile() on the EXACT path (small n)") {
    // below the GK-validity threshold 5εn >= maxRankDev+1 (n < 10k at
    // the defaults) the primitive must fall back to full-collect
    // selection — the live zorder sighting at n=1.5k was exactly a GK
    // bracket missing a cut rank that deviates t/4 from q·n
    for ((n, t, seed) <- Seq((1, 4, 1L), (3, 16, 2L), (103, 4, 3L),
      (1500, 16, 4L), (5000, 7, 5L))) checkNtileByCuts(n, t, seed)
  }

  test("ntile-by-cut-tuples matches ntile() on the GK-BRACKET path (large n)") {
    // n = 60k > 10k: the bracket path runs for real, with the
    // duplicate-heavy v column making tie handling load-bearing
    checkNtileByCuts(60000, 16, 6L)
    checkNtileByCuts(60000, 4, 7L)
  }

  test("orderStatisticTuples selects exact tuples on a TIMESTAMP value column (GK path)") {
    // the rfm R-metric shape: microsecond timestamps + long tiebreak
    val n = 30000
    val rnd = new scala.util.Random(8L)
    val df = (1 to n).map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + rnd.nextInt(500000) * 1000L))
    }.toDF("id", "ts").repartition(7).localCheckpoint(true)
    val cuts = TwoStageOrder.orderStatisticTuples(df,
      Seq(("ts", Seq("id"), TwoStageOrder.ntileCutTargets(4, "c"))))
    val got = df.crossJoin(broadcast(cuts))
      .withColumn("b", TwoStageOrder.bucketByCuts(4, "c", "ts", "id",
        col("ts"), col("id")))
      .select("id", "b")
    val expected = df.withColumn("b",
        ntile(4).over(Window.orderBy(asc("ts"), asc("id"))))
      .select("id", "b")
    val diff = got.except(expected).union(expected.except(got))
    assert(diff.isEmpty, "timestamp bucket mismatch")
  }

  test("orderStatisticTuples honors externally-derived ranks within maxRankDev (GK path)") {
    // the subsample-merge shape: the probed rank comes from ANOTHER
    // table's count, deviating from q·n by up to maxRankDev ranks
    val n = 80000
    val df = randomDf(n, 9L).localCheckpoint(true)
    val sorted = df.orderBy(asc("v"), asc("id"))
      .select("v", "id").collect()
    for (dev <- Seq(-30, 0, 30)) {
      val q = 0.5
      val rank = (q * n).toLong + dev
      val got = TwoStageOrder.orderStatisticTuples(df,
          Seq(("v", Seq("id"), Seq(("t", q, rank.toString)))),
          maxRankDev = 34)
        .select(col("t.v"), col("t.id")).collect()(0)
      val exp = sorted(rank.toInt - 1)
      assert(got.getLong(0) == exp.getLong(0) && got.getLong(1) == exp.getLong(1),
        s"dev=$dev: got $got expected $exp")
    }
  }

  test("orderStatisticTuples stays exact when √(c·n) scaling raises a tiny accuracy (r19)") {
    // forced-small caller accuracy (100) at n = 60k: the effective
    // accuracy becomes √(c·n) ≈ 3.5k — the n-independent-band scaling
    // must leave the selected tuples bit-identical
    val df = randomDf(60000, 61L).localCheckpoint(true)
    val t = 16
    val cuts = TwoStageOrder.orderStatisticTuples(df,
      Seq(("v", Seq("id"), TwoStageOrder.ntileCutTargets(t, "c"))),
      accuracy = 100)
    val got = df.crossJoin(broadcast(cuts))
      .withColumn("b", TwoStageOrder.bucketByCuts(t, "c", "v", "id",
        col("v"), col("id")))
      .select("id", "b")
    val expected = df.withColumn("b",
        ntile(t).over(Window.orderBy(asc("v"), asc("id"))))
      .select("id", "b")
    val diff = got.except(expected).union(expected.except(got))
    assert(diff.isEmpty, "scaled-accuracy bucket mismatch")
  }

  test("orderStatistics stays exact when the band-bound refinement pass fires (r19)") {
    // no-tiebreak multiset order statistics of a duplicate-heavy column at
    // a forced-small accuracy: at n = 4096 the band bound √(c·n) ≈ 479
    // raises accuracy 100, and the selected values must stay exact
    val n = 4096
    val vs = randomDf(n, 54L).select("v")
    val sorted = vs.as[Long].collect().sorted
    val stats = values(TwoStageOrder.orderStatisticTuples(vs,
      Seq(("v", Nil, Seq(
        ("lo", 0.0, "1"),
        ("med1", 0.5, "(n + 1) DIV 2"),
        ("p90", 0.9, "CAST(CEIL(0.9 * n) AS BIGINT)"),
        ("hi", 1.0, "n")))), accuracy = 100), "v").collect().head
    assert(stats.getLong(0) == n.toLong)
    val expect = Seq(sorted(0), sorted(((n + 1) / 2) - 1),
      sorted(math.ceil(0.9 * n).toInt - 1), sorted(n - 1))
    assert((1 to 4).map(stats.getLong) == expect,
      "scaled-accuracy order statistics mismatch")
  }

  test("an out-of-band rank fails loudly instead of reading a wrong element (r19)") {
    // r18 advice: element_at with a negative index silently reads from
    // the END of the band — the clamp must raise instead
    // (rank far below the bracket). A rank offset by 2^32 must fail the
    // same way: with ANSI off an int cast before the range check wraps it
    // back into the band and reads a wrong element
    val df = randomDf(257, 77L).select("v")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    def assertOutOfBand(rankSql: String): Unit = {
      val bad = TwoStageOrder.orderStatisticTuples(df,
        Seq(("v", Nil, Seq(("med", 0.5, rankSql)))))
      val e = intercept[Exception] { bad.collect() }
      assert(messages(e).exists(_.contains("outside its band")),
        s"$rankSql: expected the band-clamp error, got: ${messages(e).mkString(" | ")}")
    }
    assertOutOfBand("n DIV 2 - 200")
    val prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assertOutOfBand("n DIV 2 + 4294967296")
    finally spark.conf.set("spark.sql.ansi.enabled", prior)
  }

  test("the primitives plan no unpartitioned Window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = randomDf(100, 13L)
    Seq(
      TwoStageOrder.withGlobalRank(df, Seq(asc("v"), asc("id")), "rk", "nt"),
      TwoStageOrder.ntileExact(df, 4, Seq(asc("v"), asc("id")), "b"),
      TwoStageOrder.kSmallest(df.select(col("v").cast("string").as("h")).distinct(),
        Nil, "h", 16)
    ).foreach { out =>
      val bad = out.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, "TwoStageOrder itself planned a global window")
    }
  }
}
