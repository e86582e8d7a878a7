package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QueryDef, Tables}

/** Fourth analytics tranche: econometrics + recommendation shapes the
  * earlier tranches didn't cover, each under the house exactness
  * discipline (integer/decimal arithmetic end-to-end, DECIMAL(38,0)/
  * HUGEINT for wide products, FLOOR-division ppm outputs — computed
  * doubles are never cast to decimal).
  *
  *  - exact Gini coefficient over a data-proportional unit table, ranked
  *    through [[TwoStageOrder.withGlobalRank]] (the sanctioned global-
  *    window replacement — a naive `row_number() OVER (ORDER BY spend)`
  *    here is exactly the single-partition sort PlanShapeSpec bans);
  *  - market-basket co-occurrence lift (self-join keyed on the order —
  *    pair count is Σ k² over basket sizes k, bounded by the basket
  *    grain, never all-pairs over the catalog);
  *  - dyadic-weight EWMA over the day grain (α = 1/2 makes every weight
  *    a power of two, so the smoothing is EXACT integer arithmetic —
  *    no float pow, no cross-engine rounding surface).
  */
object StatsExtra {

  /** Exact Gini coefficient of per-customer order spend — the standard
    * rank formula G = (2·Σᵢ rᵢ·sᵢ − (n+1)·Σᵢ sᵢ) / (n·Σᵢ sᵢ) with
    * rank ascending and ties broken by custkey (a total order, required
    * by the two-stage rank contract). All arithmetic is integer cents;
    * the wide Σ r·s product runs in DECIMAL(38,0) (HUGEINT in the
    * oracle) because rank × cents × n overflows BIGINT at cluster
    * scale; the headline is the FLOOR-ppm quotient.
    *
    * Scale shape: one range-partitioned two-stage rank over the
    * customer-grain frame (full-width parallel, no WindowExec) + one
    * scalar aggregation. At 100 TB the unit table is per-customer
    * aggregates — orders-of-magnitude smaller than the fact table the
    * groupBy reduces.
    */
  val giniRevenue: QueryDef = QueryDef(
    "stats_gini_revenue",
    (s, dir) => {
      val spend = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)")
          .as("s_cents"))
      TwoStageOrder.withGlobalRank(spend,
          Seq(col("s_cents").asc, col("o_custkey").asc), "r", "n")
        .agg(
          max(col("n")).as("n_customers"),
          sum(col("s_cents")).as("total_cents"),
          sum(col("r").cast(DecimalType(38, 0)) * col("s_cents")).as("rs"))
        .select(
          col("n_customers"),
          col("total_cents"),
          expr("""CAST(((2 * rs - (n_customers + 1) * CAST(total_cents AS DECIMAL(38,0)))
                       * 1000000)
                      DIV (n_customers * CAST(total_cents AS DECIMAL(38,0)))
                      AS BIGINT)""").as("gini_ppm"))
    },
    Some("""
      WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS s_cents
        FROM orders GROUP BY 1),
      ranked AS (
        SELECT s_cents,
               ROW_NUMBER() OVER (ORDER BY s_cents, o_custkey) AS r,
               COUNT(*) OVER () AS n
        FROM spend)
      SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
             CAST(SUM(s_cents) AS BIGINT) AS total_cents,
             CAST(((2 * SUM(CAST(r AS HUGEINT) * s_cents)
                    - (MAX(n) + 1) * CAST(SUM(s_cents) AS HUGEINT)) * 1000000)
                  // (MAX(n) * CAST(SUM(s_cents) AS HUGEINT)) AS BIGINT) AS gini_ppm
      FROM ranked
    """.stripMargin.trim))

  /** Market-basket lift: parts co-purchased within the same order,
    * scored by lift = P(a,b)/(P(a)·P(b)) = n_ab·N/(n_a·n_b) in exact
    * FLOOR-ppm (DECIMAL(38,0) numerator — n_ab·N·10⁶ overflows BIGINT
    * once order counts pass ~10⁹). Top-20 by support then lift with a
    * full key tiebreak (TakeOrdered, no global window).
    *
    * Scale shape: the pair generator is a self-equi-join on the ORDER
    * key — work is Σ_orders k², bounded by basket size (k ≈ 4-7 here),
    * never catalog × catalog; the per-part frame and the 1-row order
    * count broadcast into the scoring join.
    */
  val copurchaseLift: QueryDef = QueryDef(
    "rec_copurchase_lift",
    (s, dir) => {
      // per-order sorted part sets, built by ONE keyed aggregation of
      // lineitem; pairs explode codegen-side from each set (the shared
      // GraphIterative.orderedPairsFromSet idiom, r18) — the former
      // distinct + self-equi-join paid a (order, part) distinct
      // exchange plus a re-shuffle of both sides onto the order key to
      // generate the identical Σ_orders k² pair stream.
      val basket = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .localCheckpoint(false)
      val pairs = basket
        .select(explode(GraphIterative.orderedPairsFromSet("ps")).as("p"))
        .groupBy(col("p.a").as("part_a"), col("p.b").as("part_b"))
        .agg(count(lit(1)).as("n_ab"))
      val partOrders = basket.select(explode(col("ps")).as("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("n_part"))
      val nOrders = basket.agg(count(lit(1)).as("n_orders"))
      pairs
        .join(broadcast(partOrders.withColumnRenamed("l_partkey", "part_a")
          .withColumnRenamed("n_part", "n_a")), "part_a")
        .join(broadcast(partOrders.withColumnRenamed("l_partkey", "part_b")
          .withColumnRenamed("n_part", "n_b")), "part_b")
        .crossJoin(broadcast(nOrders))
        .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"), col("n_b"),
          expr("""CAST((CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000)
                      DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)""")
            .as("lift_ppm"))
        .orderBy(desc("n_ab"), desc("lift_ppm"), asc("part_a"), asc("part_b"))
        .limit(20)
    },
    Some("""
      WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2),
      part_orders AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_part
        FROM basket GROUP BY 1),
      n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM basket)
      SELECT part_a, part_b, n_ab,
             pa.n_part AS n_a, pb.n_part AS n_b,
             CAST((CAST(n_ab AS HUGEINT) * n_orders * 1000000)
                  // (CAST(pa.n_part AS HUGEINT) * pb.n_part) AS BIGINT) AS lift_ppm
      FROM pairs
      JOIN part_orders pa ON pairs.part_a = pa.l_partkey
      JOIN part_orders pb ON pairs.part_b = pb.l_partkey
      CROSS JOIN n
      ORDER BY n_ab DESC, lift_ppm DESC, part_a, part_b
      LIMIT 20
    """.stripMargin.trim))

  /** Dyadic EWMA: the 20-lag weight ladder for num/den terms, shared
    * verbatim between the Spark and DuckDB dialects (only the wide-int
    * type name differs). Weight of lag k is 2^(19−k) — α = 1/2 — so
    * every term is an exact integer product; missing lags (series
    * head) drop out of numerator AND denominator, which renormalizes
    * the truncated window exactly.
    */
  private val EwmaLags = 20
  private def ewmaNum(wide: String): String =
    (0 until EwmaLags).map { k =>
      s"COALESCE(CAST(lag(rev_cents, $k) OVER (ORDER BY day) AS $wide), 0) * ${1L << (EwmaLags - 1 - k)}"
    }.mkString(" + ")
  private def ewmaDen: String =
    (0 until EwmaLags).map { k =>
      s"CASE WHEN lag(rev_cents, $k) OVER (ORDER BY day) IS NULL THEN 0 ELSE ${1L << (EwmaLags - 1 - k)} END"
    }.mkString(" + ")

  /** EWMA-smoothed daily revenue with α = 1/2 over a 20-observation
    * window: weights 2^19 … 2^0 are exact powers of two, so the entire
    * smoother is integer arithmetic — the one α for which EWMA has NO
    * cross-engine float surface (pow/exp implementations differ in the
    * last ulp between libm and the JVM; dyadic weights sidestep the
    * whole class, the same reasoning as the k-means Σ⌊·10⁶⌋ trick).
    * Truncating at 20 lags discards < 2⁻²⁰ of the mass and is
    * renormalized by the matching denominator.
    *
    * The unpartitioned 20-lag window runs over the DAY grain — bounded
    * by the fixed 1992-1998 calendar (~2.4k rows at any corpus size),
    * whitelisted in PlanShapeSpec like the other day-grain frames. The
    * data-proportional work is the groupBy that builds the grain.
    */
  val ewmaDyadic: QueryDef = QueryDef(
    "ts_ewma_dyadic",
    (s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderdate").as("day"))
        .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)")
          .as("rev_cents"))
        .selectExpr("day", "rev_cents",
          s"CAST((${ewmaNum("DECIMAL(38,0)")}) DIV ($ewmaDen) AS BIGINT) AS ewma_cents")
        .orderBy("day")
    },
    Some(s"""
      WITH daily AS (
        SELECT o_orderdate AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1)
      SELECT day, rev_cents,
             CAST((${ewmaNum("HUGEINT")}) // ($ewmaDen) AS BIGINT) AS ewma_cents
      FROM daily
      ORDER BY day
    """.stripMargin.trim))

  /** Theil–Sen robust slope + Mann–Kendall trend test over daily
    * revenue — the nonparametric drift detector for corpus/ingest
    * monitoring (robust to the outlier days that wreck the OLS slope in
    * `ts_trend_ols`). Both statistics are functions of the DAY-PAIR
    * frame: the day grain is bounded by the fixed date span (a few
    * thousand rows at ANY corpus size), so the pairwise self-join is a
    * broadcast over a constant-size frame — ~n²/2 ≈ 3M pair rows of two
    * columns, constant in the data — not an all-pairs join over data
    * (whitelisted in PlanShapeSpec with exactly that boundedness
    * argument). The exact median of the pair slopes ranks through
    * [[TwoStageOrder.withGlobalRank]]; with ties in `slope` the rank of
    * an individual row is placement-dependent but the VALUE at any rank
    * is the multiset order statistic — deterministic, which is all the
    * median selection reads.
    *
    * Exactness: daily revenue scales to INTEGER CENTS first (×100 to
    * BIGINT — the vetted scale-0 class from olsMultiple /
    * stats_corr_qty_price; a scale-2 decimal→double cast is the one
    * decimal cast whose rounding the two engines may disagree on in the
    * last ulp once diffs exceed 2^53 cents), and the slope is the shared
    * double text `Δcents / (100.0 · Δdays)` — both engines evaluate the
    * identical IEEE expression. Mann–Kendall S is integer;
    * Var(S) = n(n−1)(2n+5)/18 stays in BIGINT until the one final
    * /18.0; z applies the standard ±1 continuity correction.
    */
  val theilSenMk: QueryDef = QueryDef(
    "stats_theil_sen_mann_kendall",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)")
          .as("rc"))
        .select(datediff(col("d"), lit("1992-01-01")).cast("long").as("di"),
          col("rc"))
        .localCheckpoint(true) // bounded day frame, feeds both arms twice
      val pairs = daily.as("a")
        .join(broadcast(daily.as("b")), col("a.di") < col("b.di"))
        .select(
          ((col("b.rc") - col("a.rc")).cast("double")
            / (lit(100.0) * (col("b.di") - col("a.di")).cast("double"))).as("slope"),
          signum((col("b.rc") - col("a.rc")).cast("double")).cast("long").as("sgn"))
        .localCheckpoint(true) // the day-pair frame feeds BOTH arms (median
                               // rank + Mann-Kendall S); unmaterialized, the
                               // O(days²) pair join ran twice
      // exact median WITHOUT ranking all ~n²/2 pair slopes: only ranks
      // (tot+1)/2 and (tot+2)/2 are ever read, so the two order
      // statistics come from TwoStageOrder.orderStatisticTuples — a
      // count of the checkpointed pair frame plus two aggregation-only
      // passes, zero full-width exchanges (r18; was: range exchange +
      // checkpoint + offset join of the whole pair frame). avg of the
      // two middle values is (v1+v2)/2 — bit-identical to AVG over the
      // one or two median rows (odd tot: v1 = v2 and (v1+v1)/2 is
      // IEEE-exact).
      val med = TwoStageOrder.orderStatisticTuples(pairs.select("slope"),
          Seq(("slope", Nil, Seq(("v1", 0.5, "(n + 1) DIV 2"), ("v2", 0.5, "(n + 2) DIV 2")))))
        .select(((col("v1.slope") + col("v2.slope")) / 2.0).as("theil_sen_slope"))
      val stat = pairs
        .agg(sum(col("sgn")).as("mk_s"))
        .crossJoin(daily.agg(count(lit(1)).as("n_days")))
        .withColumn("var_s",
          (col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5))
            .cast("double") / 18.0)
        .withColumn("mk_z",
          when(col("mk_s") > 0, (col("mk_s") - 1).cast("double") / sqrt(col("var_s")))
            .when(col("mk_s") < 0, (col("mk_s") + 1).cast("double") / sqrt(col("var_s")))
            .otherwise(0.0))
      stat.crossJoin(med)
        .select(col("n_days"), col("mk_s"), col("mk_z"), col("theil_sen_slope"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS rc
        FROM orders GROUP BY 1),
      pairs AS (
        SELECT CAST(b.rc - a.rc AS DOUBLE) / (100.0 * CAST(b.di - a.di AS DOUBLE)) AS slope,
               CAST(sign(CAST(b.rc - a.rc AS DOUBLE)) AS BIGINT) AS sgn
        FROM daily a JOIN daily b ON a.di < b.di),
      ranked AS (
        SELECT slope, ROW_NUMBER() OVER (ORDER BY slope ASC) AS r, COUNT(*) OVER () AS tot
        FROM pairs),
      med AS (
        SELECT AVG(slope) AS theil_sen_slope FROM ranked
        WHERE r = (tot + 1) // 2 OR r = (tot + 2) // 2),
      stat AS (
        SELECT (SELECT COUNT(*) FROM daily) AS n_days,
               CAST(SUM(sgn) AS BIGINT) AS mk_s FROM pairs)
      SELECT n_days, mk_s,
             CASE WHEN mk_s > 0 THEN CAST(mk_s - 1 AS DOUBLE)
                    / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) AS DOUBLE) / 18.0)
                  WHEN mk_s < 0 THEN CAST(mk_s + 1 AS DOUBLE)
                    / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) AS DOUBLE) / 18.0)
                  ELSE 0.0 END AS mk_z,
             theil_sen_slope
      FROM stat, med
    """.stripMargin.trim))

  // ---- closed-form multiple regression: shared formula text ------------
  // The normal-equation solve is pure double arithmetic over ten
  // integer-decimal moments; both engines evaluate the SAME expression
  // text (interpolated into selectExpr here and into the oracle SQL
  // below), so cross-engine float equality holds by construction — the
  // stats_corr_qty_price discipline extended from 1 to 2 regressors.
  private def d(c: String) = s"CAST($c AS DOUBLE)"
  private val (rNN, rX1, rX2, rSY) = (d("n"), d("sx1"), d("sx2"), d("sy"))
  private val (rS11, rS22, rS12) = (d("s11"), d("s22"), d("s12"))
  private val (rS1Y, rS2Y, rSYY) = (d("s1y"), d("s2y"), d("syy"))
  private val regDet =
    s"($rNN * ($rS11 * $rS22 - $rS12 * $rS12) - $rX1 * ($rX1 * $rS22 - $rS12 * $rX2) + $rX2 * ($rX1 * $rS12 - $rS11 * $rX2))"
  private val regDetB0 =
    s"($rSY * ($rS11 * $rS22 - $rS12 * $rS12) - $rX1 * ($rS1Y * $rS22 - $rS12 * $rS2Y) + $rX2 * ($rS1Y * $rS12 - $rS11 * $rS2Y))"
  private val regDetB1 =
    s"($rNN * ($rS1Y * $rS22 - $rS12 * $rS2Y) - $rSY * ($rX1 * $rS22 - $rS12 * $rX2) + $rX2 * ($rX1 * $rS2Y - $rS1Y * $rX2))"
  private val regDetB2 =
    s"($rNN * ($rS11 * $rS2Y - $rS1Y * $rS12) - $rX1 * ($rX1 * $rS2Y - $rS1Y * $rX2) + $rSY * ($rX1 * $rS12 - $rS11 * $rX2))"
  private val regB0c = s"($regDetB0 / $regDet)"
  private val regB1 = s"($regDetB1 / $regDet)"
  private val regB2 = s"($regDetB2 / $regDet)"
  private val regSse =
    s"($rSYY - $regB0c * $rSY - $regB1 * $rS1Y - $regB2 * $rS2Y)"
  private val regSst = s"($rSYY - $rSY * $rSY / $rNN)"
  private val regR2 = s"(1.0 - $regSse / $regSst)"

  /** Closed-form two-regressor OLS (price ~ quantity + discount per
    * return flag) via the normal equations and Cramer's rule — the
    * distributed-ML primitive that needs exactly ONE pass: the ten
    * moment sums (n, Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y, Σx₂y, Σy²)
    * are a keyed aggregation with map-side partial merge, and the 3×3
    * solve is per-group scalar arithmetic. No gradient iterations, no
    * driver loop — at 100 TB this is a single shuffle of 10 numbers
    * per group, the shape feature-quality calibration jobs want.
    *
    * Exactness: inputs scale to integer cents (scale-0 decimals — the
    * only decimal→double cast both engines round identically, see
    * stats_corr_qty_price), and the double formula text is SHARED
    * between Spark and the oracle. Slopes are scale-invariant under
    * the ×100 (both axes scale together); the intercept divides back
    * once. R² = 1 − SSE/SST with SSE from the moment identity
    * Σy² − b·(Σy, Σx₁y, Σx₂y).
    */
  val olsMultiple: QueryDef = QueryDef(
    "stats_ols_multiple_regression",
    (s, dir) => {
      val d12 = DecimalType(12, 2)
      val qc = (col("l_quantity").cast(d12) * 100).cast(DecimalType(14, 0))
      val dc = (col("l_discount").cast(d12) * 100).cast(DecimalType(14, 0))
      val pc = (col("l_extendedprice").cast(d12) * 100).cast(DecimalType(16, 0))
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(qc).as("sx1"), sum(dc).as("sx2"), sum(pc).as("sy"),
          sum(qc * qc).as("s11"), sum(dc * dc).as("s22"),
          sum(qc * dc).as("s12"),
          sum(qc * pc).as("s1y"), sum(dc * pc).as("s2y"),
          sum(pc * pc).as("syy"))
        .selectExpr("l_returnflag", "n",
          s"$regB0c / 100.0 AS b0",
          s"$regB1 AS b1_qty",
          s"$regB2 AS b2_disc",
          s"$regR2 AS r2")
        .orderBy("l_returnflag")
    },
    Some(s"""
      WITH sums AS (
        SELECT l_returnflag, COUNT(*) AS n,
               SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))) AS sx1,
               SUM(CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))) AS sx2,
               SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(16,0))) AS sy,
               SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))
                   * CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))) AS s11,
               SUM(CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))
                   * CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))) AS s22,
               SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))
                   * CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))) AS s12,
               SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))
                   * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(16,0))) AS s1y,
               SUM(CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))
                   * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(16,0))) AS s2y,
               SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(16,0))
                   * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(16,0))) AS syy
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n,
             $regB0c / 100.0 AS b0,
             $regB1 AS b1_qty,
             $regB2 AS b2_disc,
             $regR2 AS r2
      FROM sums
      ORDER BY l_returnflag
    """.stripMargin.trim))

  // ---- CUPED shared formula text (same discipline as the OLS block) ----
  private val cTheta =
    s"((${d("n")} * ${d("sxy")} - ${d("sx")} * ${d("sy")}) / (${d("n")} * ${d("sxx")} - ${d("sx")} * ${d("sx")}))"
  private val cMeanXAll = s"(${d("sx")} / ${d("n")})"

  /** CUPED variance-reduced A/B readout (Deng, Xu, Kohavi, Walker —
    * "Improving the Sensitivity of Online Controlled Experiments",
    * WSDM 2013): each user's pre-period spend X is the covariate for
    * their experiment-period spend Y; θ = cov(X,Y)/var(X) is fit POOLED
    * (assignment-independent, so the adjustment is unbiased), and each
    * variant reports mean(Y) and the adjusted
    * mean(Y − θ·(X − E[X])) = meanY − θ·(meanX − E[X]) plus the achieved
    * variance-reduction ratio 1 − ρ² — the number that says how much
    * smaller the experiment can be.
    *
    * Shape: ONE keyed pass builds the per-user (X, Y) frame (conditional
    * sums over the split date), one tiny aggregation builds the pooled
    * moments, per-variant stats group over ≤2 rows — at 100 TB the only
    * corpus-sized step is the per-user rollup the session tables already
    * need. Variant assignment is the md5-nibble split (deterministic,
    * reproducible at any parallelism — the sample_stratified_hash
    * discipline). Exactness: X/Y are integer cents; every double comes
    * from scale-0 decimal casts through SHARED formula text.
    */
  val cupedLift: QueryDef = QueryDef(
    "stats_cuped_adjusted_lift",
    (s, dir) => {
      val mid = "2024-01-16"
      val users = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          sum(when(col("ts").cast("timestamp") < lit(mid).cast("timestamp"),
            (col("value").cast(DecimalType(12, 2)) * 100).cast("long"))
            .otherwise(0L)).as("x"),
          sum(when(col("ts").cast("timestamp") >= lit(mid).cast("timestamp"),
            (col("value").cast(DecimalType(12, 2)) * 100).cast("long"))
            .otherwise(0L)).as("y"))
        .withColumn("variant", expr(
          "(instr('0123456789abcdef', substring(md5(CAST(user_id AS STRING)), 1, 1)) - 1) % 2"))
        .localCheckpoint(true) // feeds the pooled moments AND the variant stats
      val pooled = users.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(DecimalType(38, 0)) * col("y")).as("sxy"),
        sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"),
        sum(col("y").cast(DecimalType(38, 0)) * col("y")).as("syy"))
      val byVariant = users.groupBy("variant")
        .agg(count(lit(1)).as("nv"),
          sum(col("x")).as("vx"), sum(col("y")).as("vy"))
      byVariant.crossJoin(broadcast(pooled))
        .selectExpr(
          "CAST(variant AS BIGINT) AS variant",
          "nv AS n_users",
          s"${d("vy")} / ${d("nv")} / 100.0 AS mean_y",
          s"(${d("vy")} / ${d("nv")} - $cTheta * (${d("vx")} / ${d("nv")} - $cMeanXAll)) / 100.0 AS mean_y_adj",
          s"$cTheta AS theta",
          s"""(${d("n")} * ${d("sxy")} - ${d("sx")} * ${d("sy")}) * (${d("n")} * ${d("sxy")} - ${d("sx")} * ${d("sy")})
              / ((${d("n")} * ${d("sxx")} - ${d("sx")} * ${d("sx")}) * (${d("n")} * ${d("syy")} - ${d("sy")} * ${d("sy")}))
              AS var_reduction""")
        .orderBy("variant")
    },
    Some(s"""
      WITH users AS (
        SELECT user_id,
               SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                   THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END) AS x,
               SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                   THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) ELSE 0 END) AS y,
               (instr('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 AS variant
        FROM events GROUP BY user_id),
      pooled AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
        FROM users),
      byv AS (
        SELECT variant, COUNT(*) AS nv, SUM(x) AS vx, SUM(y) AS vy
        FROM users GROUP BY variant)
      SELECT CAST(variant AS BIGINT) AS variant,
             nv AS n_users,
             ${d("vy")} / ${d("nv")} / 100.0 AS mean_y,
             (${d("vy")} / ${d("nv")} - $cTheta * (${d("vx")} / ${d("nv")} - $cMeanXAll)) / 100.0 AS mean_y_adj,
             $cTheta AS theta,
             (${d("n")} * ${d("sxy")} - ${d("sx")} * ${d("sy")}) * (${d("n")} * ${d("sxy")} - ${d("sx")} * ${d("sy")})
               / ((${d("n")} * ${d("sxx")} - ${d("sx")} * ${d("sx")}) * (${d("n")} * ${d("syy")} - ${d("sy")} * ${d("sy")}))
               AS var_reduction
      FROM byv CROSS JOIN pooled
      ORDER BY variant
    """.stripMargin.trim))

  val defs: Seq[QueryDef] =
    Seq(giniRevenue, copurchaseLift, ewmaDyadic, theilSenMk, olsMultiple,
      cupedLift)
}
