package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed replacements for unpartitioned ("global") window
  * functions — the one physical shape that cannot survive an unbounded
  * input: `WindowExec` with an empty partition spec moves EVERY row to a
  * single partition (Spark logs exactly that warning), so a global
  * `row_number`/`ntile` over a data-proportional table is a single-task
  * sort no matter how many executors exist. The r10 audit found four
  * such plans that had accumulated through the query-surface growth;
  * every one now routes through this object, and PlanShapeSpec fails
  * the build if the class ever reappears.
  *
  * The primitives are exact, not approximate — callers keep their
  * oracle hashes bit-for-bit:
  *
  *  - [[withGlobalRank]]: 1-based rank under a TOTAL order (callers
  *    must tie-break to uniqueness) = `repartitionByRange` on the sort
  *    key + per-partition `row_number` + partition-count offsets. The
  *    range partitioner guarantees partitions cover disjoint ordered
  *    key ranges, so global rank = rows-in-earlier-partitions + local
  *    rank, exactly. The offset/total frame is one row per shuffle
  *    partition (≤ `spark.sql.shuffle.partitions` rows), folded with a
  *    tiny constant-key broadcast self-join — no window, no collect.
  *  - [[ntileExact]]: SQL-standard NTILE(t) from the global rank by the
  *    closed-form bucket formula (first n%t buckets get ⌈n/t⌉ rows) —
  *    a per-row expression over rank and total, no second pass.
  *  - [[orderStatisticTuples]]: the exact rows at a FEW target ranks
  *    (medians, tail quantiles, NTILE cuts) from aggregations alone —
  *    the one order-statistic primitive; its scaladoc is the cost
  *    contract.
  *  - [[kSmallest]]: the K smallest values (KMV sketch build) without
  *    ranking the full table: per-partition K-smallest under a
  *    (group, partition-id) window — every global top-K row survives
  *    its own partition's cut, so pooling the ≤ P·K survivors and
  *    taking the K smallest of the pool is exact (the repo's own
  *    sketch-merge algebra: "union = K smallest of the pooled hashes").
  *
  * Cost shape at 100 TB: one sampled range exchange + one hash exchange
  * on partition id (both balanced, both full-width parallel) per rank;
  * the only single-point data is the P-row count frame.
  */
object TwoStageOrder {

  /** Adds `rankCol` (1-based global rank, LONG) and `totalCol` (total
    * row count, LONG) under the total order `order`. `order` MUST be a
    * total order (tie-broken to row uniqueness) — with ties the rank of
    * tied rows would depend on partition placement, exactly like
    * `row_number` under a non-total order.
    */
  private val Reserved =
    Seq("__pid", "__mid", "__lrank", "__offset", "__one", "__pcnt", "__r",
      "__npool", "__pool", "__smp", "__e", "__rank", "__ntot")

  def withGlobalRank(df: DataFrame, order: Seq[Column],
                     rankCol: String, totalCol: String): DataFrame = {
    require(df.columns.intersect(Reserved).isEmpty,
      s"input uses a reserved TwoStageOrder column: ${df.columns.intersect(Reserved).mkString(",")}")
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    // materialized ONCE: the range partitioner SAMPLES its boundaries per
    // execution, and this frame feeds two consumers (the count frame and
    // the rank join) — re-executing the exchange could hand them two
    // different placements and corrupt the offsets (caught bit-for-bit by
    // the r11 rewrite harness: 17 unequal zorder buckets). A write-time
    // layout job has the same shape: it writes the ranged files exactly
    // once. LAZY checkpoint: the offsets broadcast build below is the
    // first consumer and materializes it — one job instead of an eager
    // checkpoint job plus the broadcast job (the ER-loop fold, reused).
    //
    // (__pid, __lrank) derive from monotonically_increasing_id over the
    // range-partitioned, partition-sorted rows — the documented id
    // layout (partition index in the upper 31 bits, row number in the
    // lower 33) yields both WITHOUT the hash-exchange a
    // Window.partitionBy(__pid) would add: the only full-data shuffle in
    // a rank is the range exchange itself, locally and at cluster scale.
    val local = df
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), 33).cast("int"))
      .withColumn("__lrank", (col("__mid").bitwiseAND(lit((1L << 33) - 1)) + 1L))
      .drop("__mid")
      .localCheckpoint(false)
    val counts = local.groupBy(col("__pid")).agg(count(lit(1)).as("__pcnt"))
      // single-valued join key DERIVED from __pid (pmod, not a literal):
      // a lit(1) key constant-folds out of the join condition and the
      // planner degrades the tiny fold to a BroadcastNestedLoopJoin,
      // which PlanShapeSpec bans outside its whitelist
      .withColumn("__one", pmod(col("__pid"), lit(1)))
    // offsets + total in one tiny P×P broadcast equi-join:
    // offset(p) = Σ counts of lower pids, total = Σ all — no window, so
    // the helper itself stays clean under the PlanShapeSpec guard it
    // exists to satisfy.
    val offsets = counts.as("a")
      .join(broadcast(counts.as("b")), col("a.__one") === col("b.__one"))
      .groupBy(col("a.__pid").as("__pid"))
      .agg(
        coalesce(sum(when(col("b.__pid") < col("a.__pid"), col("b.__pcnt"))), lit(0L))
          .as("__offset"),
        sum(col("b.__pcnt")).as(totalCol))
    local
      .join(broadcast(offsets), "__pid")
      .withColumn(rankCol, col("__offset") + col("__lrank"))
      .drop("__pid", "__lrank", "__offset")
  }

  /** Adds one inclusive global prefix sum per `(inCol, outCol)` pair
    * under the total order `order` (which must be tie-free, like
    * [[withGlobalRank]]) — the distributed replacement for
    * `sum(x).over(Window.orderBy(order))`, whose empty partition spec
    * moves every row to one partition. Shape: one sampled range
    * exchange, a PARTITION-LOCAL running-sum window keyed on the
    * physical partition id, and per-partition offsets folded through
    * the same tiny P×P broadcast join as the rank — exact integer
    * algebra end-to-end (callers pass integral LONG columns; the r12
    * measured-boundedness audit caught stats_ks_drift's distinct-cents
    * frame growing 8.5× under 10× data, the class this replaces).
    * The input frame is checkpointed once: the range partitioner
    * samples its boundaries per execution, and the offsets and the
    * local sums must see the SAME placement.
    */
  def withRunningSums(df: DataFrame, order: Seq[Column],
                      sums: Seq[(String, String)]): DataFrame = {
    require(df.columns.forall(!_.startsWith("__")),
      s"input uses reserved __-prefixed columns: ${df.columns.filter(_.startsWith("__")).mkString(",")}")
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val local = df
      .repartitionByRange(parts, order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = sums.foldLeft(local) { case (d, (in, out)) =>
      d.withColumn(s"__l_$out", sum(col(in)).over(w))
    }
    val totAggs = sums.map { case (in, out) => sum(col(in)).as(s"__t_$out") }
    val totals = local.groupBy(col("__pid"))
      .agg(totAggs.head, totAggs.tail: _*)
      .withColumn("__one", pmod(col("__pid"), lit(1)))
    val offAggs = sums.map { case (_, out) =>
      coalesce(sum(when(col("b.__pid") < col("a.__pid"), col(s"b.__t_$out"))),
        lit(0L)).as(s"__o_$out")
    }
    val offsets = totals.as("a")
      .join(broadcast(totals.as("b")), col("a.__one") === col("b.__one"))
      .groupBy(col("a.__pid").as("__pid"))
      .agg(offAggs.head, offAggs.tail: _*)
    withLocal
      .join(broadcast(offsets), "__pid")
      .select(df.columns.map(col) ++ sums.map { case (_, out) =>
        (col(s"__l_$out") + col(s"__o_$out")).as(out)
      }: _*)
  }

  /** Adds `bucketCol` = SQL-standard NTILE(`t`) (INT, 1-based) under the
    * total order `order`: with n rows, q = n DIV t and r = n % t, the
    * first r buckets hold q+1 rows and the rest q. Bit-identical to
    * `ntile(t).over(Window.orderBy(order))` for any total order, minus
    * the single-partition sort. (When q = 0 every rank lands in the
    * first branch, so the q-divisor of the second is guarded but
    * unreachable.)
    */
  def ntileExact(df: DataFrame, t: Int, order: Seq[Column],
                 bucketCol: String): DataFrame =
    withGlobalRank(df, order, "__rank", "__ntot")
      .withColumn(bucketCol, expr(
        s"""CAST(CASE
           |  WHEN __rank <= (__ntot DIV $t + 1) * (__ntot % $t)
           |  THEN (__rank - 1) DIV (__ntot DIV $t + 1) + 1
           |  ELSE (__ntot % $t)
           |       + (__rank - 1 - (__ntot DIV $t + 1) * (__ntot % $t))
           |         DIV GREATEST(__ntot DIV $t, 1) + 1
           |END AS INT)""".stripMargin))
      .drop("__rank", "__ntot")

  /** Clamped band lookup: element_at only when 1 ≤ idx ≤ size(band),
    * else raise_error — out-of-band is a broken caller contract and must
    * fail loudly, not fold a wrong/NULL value into downstream buckets
    * (r18 advice). The range check compares `idx` as a LONG and casts to
    * INT only after it has passed: ranks are BIGINT over n, and an
    * int-cast first would wrap an out-of-contract rank back into the
    * band. */
  private def bandAt(band: Column, idx: Column, what: String): Column =
    when(idx >= 1L && idx <= size(band).cast("long"), element_at(band, idx.cast("int")))
      .otherwise(raise_error(concat(
        lit(s"TwoStageOrder: rank for '$what' outside its band (idx="),
        idx.cast("string"), lit(", band="), size(band).cast("string"),
        lit(") — caller contract violated (mass-tie at the quantile?)"))))

  /** Exact order statistics at a FEW target ranks — the one
    * order-statistic primitive. It replaces "rank the whole table, then
    * read k rows of it" when the consumer only probes a handful of ranks
    * (a median, tail quantiles, NTILE cut tuples): [[withGlobalRank]]
    * pays a full-width range exchange plus a materialization so that
    * EVERY row gets a rank; here the row at each target rank comes from
    * aggregations alone, with ZERO data exchanges (guide §2.4).
    *
    * `specs` = (valueCol, tieCols, targets): rows are ordered by the
    * composite total order (valueCol asc, tieCols asc…); with no
    * tieCols the result is the multiset order statistic of valueCol.
    * targets = (outCol, q, rankSql): `rankSql` is a SQL expression over
    * `n` giving the 1-based target rank (e.g. "(n + 1) DIV 2") and `q`
    * centers the bracket. Returns ONE row: `n` (LONG) plus per target a
    * struct column `outCol` with fields (valueCol, tieCols…) — read
    * `outCol.valueCol` for the value, or compare `struct(valueCol,
    * tieCols…)` rows against it downstream (struct comparison is
    * lexicographic, i.e. the composite order itself).
    *
    * Cost contract: one eager count, then a bracket pass and a
    * selection pass that run lazily inside the caller's final action.
    * Nothing is checkpointed.
    *
    *  1. count (at call time): n = COUNT(*) of `df`, which picks the
    *     effective accuracy and the bracket form (see Validity) — pass a
    *     materialized or cheaply countable frame.
    *  2. bracket pass: per spec ONE array-form GK sketch of valueCol at
    *     accuracy A, queried at q ± δ for every target (δ =
    *     deltaUnits·ε, ε = 1/A, quantiles clamped to [0, 1]; the
    *     sketch keeps the exact min/max at the edges). The composite
    *     rank ρ of the target tuple t* satisfies cnt(v < t*.v) < ρ ≤
    *     cnt(v ≤ t*.v), and a Greenwald–Khanna summary has a HARD rank
    *     error ≤ ε·n (not probabilistic), so the bracket [lo, hi]
    *     contains t*.v: if t*.v < lo then cnt(v ≤ t*.v) ≤ rank(lo) ≤
    *     (q−(Δ−1)ε)·n < ρ, a contradiction, and symmetrically for hi
    *     (Δ = deltaUnits).
    *  3. selection pass (the 1-row bracket broadcast into it): per spec
    *     the SORTED band of (value, tie…) structs inside any target's
    *     bracket, plus per target cnt_lt = Σ[v < lo]; the exact tuple is
    *     band[ρ − cnt_lt]. Any valid bracket yields the same tuple, so
    *     the result is deterministic although the GK merge order is not.
    *
    * Accuracy: A = max(accuracy, √(c·n)) with c = Σ_specs
    * (2·deltaUnits+2)·|targets|. The band holds ~c·n/A values and the
    * GK summary O(A·log(n/A)) entries, so √(c·n) is the BALANCE POINT
    * of the two costs, not a cap: both stay O(√(c·n)) at any n (~3·10⁶
    * entries at n = 10¹¹) instead of growing as ε·n. At bench scale the
    * caller's accuracy wins and nothing changes.
    *
    * Validity: each target's runtime rank must deviate from q·n by at
    * most `maxRankDev` ranks — true for ⌈q·n⌉ and (n+1) DIV 2, and for
    * the NTILE(t) cut ranks c_j = j·(n DIV t) + LEAST(j, n % t) at
    * q = j/t, which deviate by ≤ ⌈t/4⌉. The bracket's rank slack is
    * (deltaUnits−1)·ε·n, so the GK bracket is used only when that
    * slack is ≥ maxRankDev + 1. Below it the quantile step per rank
    * exceeds the bracket width (live sighting: NTILE(16) cuts at
    * n = 1.5k), so every bracket is the exact [min, max] instead and the
    * band is each spec's whole sorted tuple list — at most
    * (maxRankDev+1)·A/(deltaUnits−1) rows, bounded by the same
    * threshold. The plan is the same on both sides of the threshold.
    *
    * The band also holds the tie runs at its two endpoints at the VALUE
    * grain — tie columns bound correctness, not band size — so do not
    * probe a quantile where valueCol mass-ties (e.g. small-integer
    * counts). valueCol must be non-null and GK-sketchable
    * (numeric/date/timestamp). A rank that lands outside its band — a
    * contract violation (mass tie, bad rankSql) — raises a runtime
    * error instead of reading a wrong element; an empty input yields
    * NULL targets.
    */
  def orderStatisticTuples(df: DataFrame,
      specs: Seq[(String, Seq[String], Seq[(String, Double, String)])],
      accuracy: Int = 10000, deltaUnits: Int = 6,
      maxRankDev: Int = 4): DataFrame = {
    require(df.columns.forall(!_.startsWith("__")),
      s"input uses reserved __-prefixed columns: ${df.columns.filter(_.startsWith("__")).mkString(",")}")
    require(deltaUnits >= 6, "deltaUnits < 6 leaves no slack over the GK bound")
    val nIn = df.count()
    // n-independent single-task state (r18 verdict item 3): raise the
    // sketch accuracy to the band/sketch balance point √(c·n) once the
    // input outgrows the caller's resolution — see the scaladoc bound
    val cBand = specs.map { case (_, _, targets) =>
      (2.0 * deltaUnits + 2) * targets.size }.sum
    val accEff = math.max(accuracy,
      math.ceil(math.sqrt(cBand * nIn)).toInt)
    val gkValid =
      (deltaUnits - 1).toDouble * nIn / accEff >= (maxRankDev + 1).toDouble
    val delta = deltaUnits.toDouble / accEff
    // Per spec ONE bracket array (lo, hi per target). On the GK side of
    // the threshold it is ONE GK sketch per value column, queried at
    // every target's two bracket quantiles via the array form —
    // approx_percentile with a scalar percentage builds an independent
    // summary per CALL, so the per-target form paid 2·|targets| sketch
    // passes over every row (measured: the 16-bucket two-dimension
    // zorder bracket ran 60 sketches); the array form pays one insert
    // per row per column. Quantiles are clamped to [0, 1]: the sketch
    // keeps the exact min/max at the edges (a q = 1 target reads the
    // max). Below the threshold every bracket is the exact [min, max],
    // so the band is the whole sorted tuple list — the same plan either
    // way.
    val bracketAggs: Seq[Column] = count(lit(1)).as("__n") +:
      specs.map { case (valueCol, _, targets) =>
        val brk =
          if (gkValid) {
            val qs = targets.flatMap { case (_, q, _) =>
              Seq(math.max(q - delta, 0.0), math.min(q + delta, 1.0))
            }
            expr(s"approx_percentile($valueCol, array(${qs.mkString(", ")}), $accEff)")
          } else array(targets.flatMap(_ => Seq(min(col(valueCol)), max(col(valueCol)))): _*)
        brk.as(s"__brk_$valueCol")
      }
    val bracket = df.agg(bracketAggs.head, bracketAggs.tail: _*)
      .select(col("__n") +: specs.flatMap { case (valueCol, _, targets) =>
        targets.zipWithIndex.flatMap { case ((o, _, _), i) =>
          Seq(element_at(col(s"__brk_$valueCol"), 2 * i + 1).as(s"__lo_$o"),
            element_at(col(s"__brk_$valueCol"), 2 * i + 2).as(s"__hi_$o"))
        }
      }: _*)
    // ONE combined band per spec (the union of its targets' brackets —
    // a single collect buffer instead of one per target; measured: 30
    // per-target collect_lists made the zorder selection the dominant
    // phase) plus two codegen'd LONG sums per target. The position of
    // target o's tuple in the combined sorted band is
    // (#band elements with v < lo_o) + (rank_o − #all rows with
    // v < lo_o): every band element with lo_o ≤ v ≤ hi_o is in o's own
    // bracket, so the within-bracket offset is the target's bracket
    // position and the cross-bracket prefix is the first sum.
    // the any-bracket membership and per-target below-flags are
    // PROJECTED once per row (codegen'd booleans) so no aggregate
    // re-evaluates the 2(t−1)-way range disjunction
    val projected = df.crossJoin(broadcast(bracket))
      .select(Seq(col("*")) ++ specs.flatMap { case (valueCol, _, targets) =>
        targets.map { case (o, _, _) =>
          (col(valueCol) >= col(s"__lo_$o") && col(valueCol) <= col(s"__hi_$o"))
            .as(s"__in_$o")
        } ++ targets.map { case (o, _, _) =>
          (col(valueCol) < col(s"__lo_$o")).as(s"__lt_$o")
        }
      }: _*)
    val selAggs: Seq[Column] = max(col("__n")).as("n") +:
      specs.flatMap { case (valueCol, tieCols, targets) =>
        val tup = struct((valueCol +: tieCols).map(col): _*)
        val inAny = targets.map { case (o, _, _) => col(s"__in_$o") }
          .reduce(_ || _)
        sort_array(collect_list(when(inAny, tup))).as(s"__band_$valueCol") +:
          targets.flatMap { case (o, _, _) =>
            Seq(
              // band elements BELOW o's bracket (union-band prefix)
              sum(when(inAny && col(s"__lt_$o"), 1L).otherwise(0L))
                .as(s"__inb_$o"),
              sum(when(col(s"__lt_$o"), 1L).otherwise(0L)).as(s"__blw_$o"))
          }
      }
    val selected = projected.agg(selAggs.head, selAggs.tail: _*)
    val aliased = specs.foldLeft(selected) { case (d, (valueCol, _, targets)) =>
      targets.foldLeft(d) { case (dd, (o, _, _)) =>
        dd.withColumn(s"__band_$o", col(s"__band_$valueCol"))
          .withColumn(s"__blw2_$o", col(s"__blw_$o") - col(s"__inb_$o"))
          .drop(s"__blw_$o")
          .withColumnRenamed(s"__blw2_$o", s"__blw_$o")
      }
    }
    aliased.select(col("n") +: specs.flatMap { case (_, _, targets) =>
      targets.map { case (o, _, rankSql) =>
        // n = 0 guard: an empty input yields empty bands and rank 0 —
        // emit NULL instead of an invalid index; a non-empty input whose
        // rank lands outside its band raises (bandAt, r18 advice)
        when(col("n") > 0L, bandAt(col(s"__band_$o"),
          (expr(rankSql) - col(s"__blw_$o")).cast("long"), o)).as(o)
      }
    }: _*)
  }

  /** The t−1 NTILE(t) cut-rank targets for [[orderStatisticTuples]]:
    * c_j = j·(n DIV t) + LEAST(j, n % t) at q = j/t (the SQL-standard
    * bucket sizes: first n%t buckets hold ⌈n/t⌉ rows). A row's bucket is
    * then 1 + #{j : boundary_j < row} — a map-side struct comparison
    * against the broadcast boundary row (bit-identical to
    * [[ntileExact]]: boundary_j is the tuple AT rank c_j, and
    * boundary_j < row ⟺ rank(row) > c_j under a total order). */
  def ntileCutTargets(t: Int, prefix: String): Seq[(String, Double, String)] =
    (1 until t).map { j =>
      (s"$prefix$j", j.toDouble / t, s"$j * (n DIV $t) + LEAST($j, n % $t)")
    }

  /** The bucket expression over [[ntileCutTargets]] boundary columns:
    * 1 + #{j : boundary_j < row} (INT, 1-based), evaluated map-side
    * against the broadcast boundary row. The composite comparison is
    * spelled over SCALAR fields (value, then one tiebreak) rather than
    * `struct < struct` — same ordering, but whole-stage-codegen-friendly
    * with no per-row struct allocation (t−1 comparisons per row). */
  def bucketByCuts(t: Int, prefix: String, valueField: String,
      tieField: String, rowValue: Column, rowTie: Column): Column =
    ((1 until t).map { j =>
      val bv = col(s"$prefix$j.$valueField")
      val bt = col(s"$prefix$j.$tieField")
      when(bv < rowValue || (bv === rowValue && bt < rowTie), 1).otherwise(0)
    }.reduce(_ + _) + lit(1)).cast("int")

  /** Per-group K-minimum-values reduction over a DISTINCT-per-group
    * value column `hCol` (string-ordered): returns one row per group —
    * `vk` = the K-th smallest value (null when the group has fewer than
    * K) and `n_kept` = min(K, group size) — the exact contract of
    * "rank ≤ K then take the boundary" that KMV estimators consume,
    * with the global rank replaced by a per-(group, input-partition)
    * rank + a bounded ≤ P·K pooled fold. `groupCols` empty = one global
    * sketch row.
    */
  /** The K whole ROWS with the smallest `hCol` (which must be unique —
    * a hash of a key column — so the selection is deterministic):
    * per-partition K-smallest prefilter, then the K smallest of the
    * pooled ≤ P·K survivors via one bounded sort_array/slice/explode
    * aggregation — the row-retrieving sibling of [[kSmallest]], and the
    * scale shape of a deterministic fixed-size uniform sample
    * (`ORDER BY hash LIMIT K` without the single-partition TopK sort
    * over the corpus). Column order is preserved; `hCol` must be the
    * FIRST column of `df` so the pooled struct sort orders by it.
    */
  def kSmallestRows(df: DataFrame, hCol: String, k: Int): DataFrame = {
    require(df.columns.head == hCol, s"$hCol must be df's first column")
    val pruned = df
      .withColumn("__pid", spark_partition_id())
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__pid")).orderBy(asc(hCol))))
      .filter(col("__r") <= k)
      .drop("__pid", "__r")
    pruned
      .agg(slice(sort_array(collect_list(struct(df.columns.map(col): _*))), 1, k)
        .as("__smp"))
      .select(explode(col("__smp")).as("__e"))
      .select(df.columns.map(c => col(s"__e.$c")): _*)
  }

  def kSmallest(df: DataFrame, groupCols: Seq[String], hCol: String,
                k: Int): DataFrame = {
    val pruned = df
      .withColumn("__pid", spark_partition_id())
      .withColumn("__r", row_number().over(
        Window.partitionBy((groupCols :+ "__pid").map(col): _*)
          .orderBy(asc(hCol))))
      .filter(col("__r") <= k)
    val grouped =
      if (groupCols.isEmpty) pruned.groupBy()
      else pruned.groupBy(groupCols.map(col): _*)
    grouped
      .agg(count(lit(1)).as("__npool"),
        sort_array(collect_list(col(hCol))).as("__pool"))
      .select(groupCols.map(col) ++ Seq(
        when(col("__npool") >= k, element_at(col("__pool"), k)).as("vk"),
        least(col("__npool"), lit(k.toLong)).as("n_kept")): _*)
  }
}
