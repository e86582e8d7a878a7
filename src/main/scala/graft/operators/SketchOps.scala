package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.streaming.LiveFeed

/** Fixed-memory frequency sketches with cross-engine determinism.
  *
  * Count-min here is exercised as its accuracy AUDIT: the query builds
  * the sketch, probes it for the exact top-20 heavy hitters, and emits
  * the per-key overestimate — hash-gated against DuckDB computing the
  * identical integer pipeline, so an estimator regression (wrong hash,
  * wrong min, wrong cell math) flips exact values, not a tolerance.
  *
  * Scale shape: the sketch is d·w = 3·512 integer cells regardless of
  * input size. Cell totals come from a keyed hash aggregation whose
  * partial (map-side) combine IS the sketch's mergeability — addition is
  * associative, so 1000 executors each fold their partition into d·w
  * cells and the reduce merges sketches, never rows. The probe touches
  * exactly d cells per key. Hashes are the house md5-hex uniform
  * ([[ScalePatterns.hexIntSpark]]) — the one function both engines
  * agree on bit-for-bit.
  */
object SketchOps {

  private val D = 3      // hash rows
  private val W = 512    // cells per row

  /** Per-user event counts `c`. */
  private def userCounts(events: DataFrame): DataFrame =
    events.groupBy("user_id").agg(count(lit(1)).as("c"))

  /** THE count-min cell builder: each key's d cells (user_id, c, j, h). */
  private def cmCells(counts: DataFrame): DataFrame =
    counts.select(col("user_id"), col("c"),
        explode(array((0 until D).map(lit): _*)).as("j"))
      .withColumn("h", expr(ScalePatterns.hexIntSpark(
        "md5(CAST(CONCAT(CAST(j AS STRING), ':', CAST(user_id AS STRING)) AS BINARY))")) % W)

  /** The d·w sketch: (j, h, cell_total) over [[cmCells]] rows. */
  private def cmSketch(cells: DataFrame): DataFrame =
    cells.groupBy("j", "h").agg(sum(col("c")).as("cell_total"))

  /** The audit: the exact top-20 keys of `expl` ([[cmCells]] rows) next to
    * their estimates from `sketch`. */
  private def cmAudit(expl: DataFrame, sketch: DataFrame): DataFrame =
    expl.join(sketch, Seq("j", "h"))
      .groupBy("user_id")
      .agg(min(col("cell_total")).as("cm_est"), min(col("c")).as("n_exact"))
      .select(col("user_id"), col("n_exact"), col("cm_est"),
        (col("cm_est") - col("n_exact")).as("overestimate"))
      .orderBy(desc("n_exact"), asc("user_id"))
      .limit(20)

  val countMin: QueryDef = QueryDef(
    "sketch_countmin_heavyhitters",
    (s, dir) => {
      val expl = cmCells(userCounts(Tables.events(s, dir)))
      cmAudit(expl, cmSketch(expl))
    },
    Some(s"""
      WITH exact AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1),
      expl AS (
        SELECT user_id, c, j,
               (${ScalePatterns.hexIntDuck(
                 "md5(CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))")}) % $W AS h
        FROM exact, UNNEST([${(0 until D).mkString(", ")}]) AS t(j)),
      cells AS (SELECT j, h, CAST(SUM(c) AS BIGINT) AS cell_total
                FROM expl GROUP BY 1, 2),
      est AS (
        SELECT e.user_id, MIN(cl.cell_total) AS cm_est, MIN(e.c) AS n_exact
        FROM expl e JOIN cells cl USING (j, h) GROUP BY 1)
      SELECT user_id, n_exact, cm_est, cm_est - n_exact AS overestimate
      FROM est
      ORDER BY n_exact DESC, user_id
      LIMIT 20
    """.stripMargin.trim))

  private val K = 64 // KMV sketch size

  /** 48-bit md5-hex uniform: first 12 hex chars as a BIGINT in
    * [0, 16¹²) — the KMV hash needs more headroom than the house 24-bit
    * [[ScalePatterns.hexIntSpark]] (at ~5·10⁶ distinct keys the 64
    * minima of a 24-bit domain start colliding, deterministically
    * biasing v_K upward; 48 bits pushes that past 10¹²). Same
    * digit-positional construction, emitted for both dialects.
    */
  private def hex12Spark(h: String): String =
    (1 to 12).map(i =>
      s"(position(substring($h, $i, 1) IN '0123456789abcdef') - 1) * ${1L << (4 * (12 - i))}L")
      .mkString(" + ")
  private def hex12Duck(h: String): String =
    (1 to 12).map(i =>
      s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * ${1L << (4 * (12 - i))}")
      .mkString(" + ")
  private val Domain = 1L << 48

  /** KMV (k-minimum-values) distinct-count sketch, the deterministic
    * mergeable alternative to HLL when the estimate must be bit-stable
    * across engines and re-runs: hash every key into the 48-bit md5-hex
    * uniform, keep the K smallest DISTINCT hash values per group, and
    * estimate distincts as (K−1)·DOMAIN ÷ v_K (the classic KMV
    * estimator, here in pure integer division — (K−1)·2⁴⁸ ≈ 1.8·10¹⁶
    * fits int64). The audit emits estimate next to exact and a
    * bounded-relative-error flag the oracle recomputes — so the
    * estimator itself is hash-gated, like the count-min overestimate.
    *
    * Scale shape: the per-group K smallest values are a top-K-per-key
    * aggregation (rank ≤ K over hash order — the native TopKPerKeyExec
    * family shape); sketches merge by "union then keep K smallest",
    * which is exactly what the same aggregation computes over unioned
    * inputs, so per-partition sketches combine without re-reading rows.
    */
  /** THE KMV estimator expression — exact below K, (K−1)·DOMAIN ÷ v_K
    * above — emitted once per dialect and consumed by every estimate
    * site in both KMV queries (five textual copies before the r9 review;
    * a domain/rounding change now lands everywhere or nowhere).
    */
  private def kmvEstSpark(nKept: String, vk: String): String =
    s"CAST(CASE WHEN $nKept < $K THEN $nKept ELSE (${K - 1}L * ${Domain}L) DIV $vk END AS BIGINT)"
  private def kmvEstDuck(nKept: String, vk: String): String =
    s"CAST(CASE WHEN $nKept < $K THEN $nKept ELSE (${K - 1} * $Domain) // $vk END AS BIGINT)"

  /** THE KMV key hash, per dialect: the 48-bit uniform of md5(user_id). */
  private def kmvHash: Column =
    expr(hex12Spark("md5(CAST(CAST(user_id AS STRING) AS BINARY))"))
  private val kmvHashDuck: String = hex12Duck("md5(CAST(user_id AS VARCHAR))")

  /** CTE `hashed`: the distinct (event_type, h) pairs of `from`. */
  private def kmvHashedSql(from: String): String =
    s"""hashed AS (
        SELECT DISTINCT event_type, $kmvHashDuck AS h
        FROM $from)"""

  /** The per-type audit: `kth` (event_type, n_kept, vk) estimates next to
    * the exact distinct user counts of `events`. */
  private def kmvAudit(kth: DataFrame, events: DataFrame): DataFrame = {
    val exact = events
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n_exact"))
    kth.join(exact, "event_type")
      .select(col("event_type"), col("n_exact"),
        expr(kmvEstSpark("n_kept", "vk")).as("kmv_est"))
      .withColumn("within_20pct",
        abs(col("kmv_est") - col("n_exact")) * 5 <= col("n_exact"))
      .orderBy("event_type")
  }

  /** One estimate `est_<tag>` over an already-distinct `h` column,
    * through the bounded two-stage K-smallest fold (TwoStageOrder). */
  private def kmvEst(hs: DataFrame, tag: String): DataFrame =
    TwoStageOrder.kSmallest(hs, Nil, "h", K)
      .select(expr(kmvEstSpark("n_kept", "vk")).as(s"est_$tag"))

  /** One full DuckDB estimate-CTE body over a distinct-hash source. */
  private def kmvEstCteDuck(src: String, alias: String): String =
    s"""SELECT ${kmvEstDuck("COUNT(*)", s"MAX(CASE WHEN r = $K THEN h END)")} AS $alias
       |        FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h ASC) AS r
       |              FROM ($src) t) rt
       |        WHERE r <= $K""".stripMargin

  val kmvDistinct: QueryDef = QueryDef(
    "sketch_kmv_distinct",
    (s, dir) => {
      val hashed = Tables.events(s, dir)
        .select(col("event_type"), kmvHash.as("h"))
        .distinct()
      // per-type K smallest via the bounded two-stage fold — event_type
      // has a handful of values, so the r10 rank-within-type window was
      // one data-proportional sort per type; TwoStageOrder.kSmallest
      // keeps K per (type, input partition) then pools, which is the
      // sketch-merge algebra itself and exact by construction
      kmvAudit(TwoStageOrder.kSmallest(hashed, Seq("event_type"), "h", K),
        Tables.events(s, dir))
    },
    Some(s"""
      WITH ${kmvHashedSql("events")},
      ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h ASC) AS r
        FROM hashed),
      kth AS (
        SELECT event_type, MAX(CASE WHEN r = $K THEN h END) AS vk,
               COUNT(*) AS n_kept
        FROM ranked WHERE r <= $K GROUP BY 1),
      exact AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
        FROM events GROUP BY 1)
      SELECT k.event_type AS event_type, e.n_exact AS n_exact,
             ${kmvEstDuck("k.n_kept", "k.vk")} AS kmv_est,
             ABS(${kmvEstDuck("k.n_kept", "k.vk")} - e.n_exact) * 5
               <= e.n_exact AS within_20pct
      FROM kth k JOIN exact e USING (event_type)
      ORDER BY event_type
    """.stripMargin.trim))

  /** KMV set algebra — the property that makes the sketch a SET type,
    * not just a counter: the union sketch of two key sets is the K
    * smallest of the POOLED hash values (exactly what the same ranked
    * aggregation computes over the unioned input — no access to the
    * original rows), and intersection follows by inclusion-exclusion.
    * Exercised on the 'view' vs 'purchase' user sets: |A|, |B| from
    * per-set sketches, |A∪B| from the merged sketch, |A∩B| =
    * est(A)+est(B)−est(A∪B), each next to its exact value. At 100 TB
    * the two per-set sketches are K-row artifacts merged without
    * touching the corpus again — the sketch-algebra twin of
    * `dedup_minhash_sketch_merge`.
    */
  val kmvSetOps: QueryDef = QueryDef(
    "sketch_kmv_set_ops",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "purchase"))
      val hashed = ev
        .select(col("event_type"), kmvHash.as("h"))
        .distinct()
        .localCheckpoint(true) // feeds both per-set and merged rankings
      // the per-type slices of `hashed` are distinct by construction;
      // only the union across types re-dedups (r9 review: two redundant
      // exchanges dropped). K-smallest via the bounded two-stage fold:
      // the r10 global row_number ranked EVERY distinct hash to keep 64
      val exact = ev.agg(
        countDistinct(when(col("event_type") === "view", col("user_id"))).as("exact_a"),
        countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("exact_b"),
        countDistinct(col("user_id")).as("exact_union"))
      kmvEst(hashed.filter(col("event_type") === "view").select("h"), "a")
        .crossJoin(kmvEst(hashed.filter(col("event_type") === "purchase").select("h"), "b"))
        .crossJoin(kmvEst(hashed.select("h").distinct(), "union"))
        .crossJoin(exact)
        .select(col("exact_a"), col("est_a"), col("exact_b"), col("est_b"),
          col("exact_union"), col("est_union"),
          (col("exact_a") + col("exact_b") - col("exact_union")).as("exact_intersect"),
          (col("est_a") + col("est_b") - col("est_union")).as("est_intersect"))
    },
    Some(s"""
      WITH ${kmvHashedSql("events WHERE event_type IN ('view', 'purchase')")},
      est_a AS (
        ${kmvEstCteDuck("SELECT h FROM hashed WHERE event_type = 'view'", "est_a")}),
      est_b AS (
        ${kmvEstCteDuck("SELECT h FROM hashed WHERE event_type = 'purchase'", "est_b")}),
      est_u AS (
        ${kmvEstCteDuck("SELECT DISTINCT h FROM hashed", "est_union")}),
      exact AS (
        SELECT COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS exact_a,
               COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS exact_b,
               COUNT(DISTINCT user_id) AS exact_union
        FROM events WHERE event_type IN ('view', 'purchase'))
      SELECT exact_a, est_a, exact_b, est_b, exact_union, est_union,
             exact_a + exact_b - exact_union AS exact_intersect,
             est_a + est_b - est_union AS est_intersect
      FROM est_a CROSS JOIN est_b CROSS JOIN est_u CROSS JOIN exact
    """.stripMargin.trim))

  /** Sketch-based equi-join cardinality estimation — what a cost-based
    * optimizer (or a pipeline gate deciding whether a join is safe to
    * run at all) computes from K-row artifacts instead of scanning
    * either input: |A ⋈ B| ≈ est|K_A ∩ K_B| · (|A|/est|K_A|) ·
    * (|B|/est|K_B|) — KMV inclusion-exclusion for the key intersection
    * (same estimator definition as [[kmvSetOps]], consumed from the one
    * shared expression site) times the average key multiplicity of each
    * side, i.e. exact under per-key-uniform frequency, and the audit
    * prints the exact join size and signed error next to it so the
    * uniformity assumption is measured, not trusted. Click events are
    * side A, view events side B, keyed by user. All integer division;
    * the error ratio is widened to DECIMAL(38,0)/HUGEINT.
    */
  val joinSizeEstimate: QueryDef = QueryDef(
    "sketch_join_size_estimate",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
      val hashed = ev
        .select(col("event_type"), kmvHash.as("h"))
        .distinct()
        .localCheckpoint(true)
      val rowCounts = ev.agg(
        count(when(col("event_type") === "click", 1)).as("rows_a"),
        count(when(col("event_type") === "view", 1)).as("rows_b"))
      val exactJoin = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(count(lit(1)).as("na"))
        .join(ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(count(lit(1)).as("nb")), "user_id")
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact_join"))
      kmvEst(hashed.filter(col("event_type") === "click").select("h"), "a")
        .crossJoin(kmvEst(hashed.filter(col("event_type") === "view").select("h"), "b"))
        .crossJoin(kmvEst(hashed.select("h").distinct(), "union"))
        .crossJoin(broadcast(rowCounts))
        .crossJoin(broadcast(exactJoin))
        .select(col("rows_a"), col("rows_b"),
          (col("est_a") + col("est_b") - col("est_union")).as("est_keys_common"),
          col("est_a"), col("est_b"), col("exact_join"))
        .withColumn("est_join", expr(
          """CAST(CAST(est_keys_common AS DECIMAL(38,0))
             * (rows_a DIV est_a) * (rows_b DIV est_b) AS BIGINT)"""))
        .withColumn("err_ppm", expr(
          """CAST((CAST(est_join - exact_join AS DECIMAL(38,0)) * 1000000)
                  DIV exact_join AS BIGINT)"""))
        .select("rows_a", "rows_b", "est_keys_common", "est_join",
          "exact_join", "err_ppm")
    },
    Some(s"""
      WITH ev AS (
        SELECT event_type, user_id FROM events
        WHERE event_type IN ('click', 'view')),
      ${kmvHashedSql("ev")},
      est_a AS (
        ${kmvEstCteDuck("SELECT h FROM hashed WHERE event_type = 'click'", "est_a")}),
      est_b AS (
        ${kmvEstCteDuck("SELECT h FROM hashed WHERE event_type = 'view'", "est_b")}),
      est_u AS (
        ${kmvEstCteDuck("SELECT DISTINCT h FROM hashed", "est_union")}),
      counts AS (
        SELECT COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS rows_a,
               COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS rows_b
        FROM ev),
      exactj AS (
        SELECT COALESCE(SUM(na * nb), 0) AS exact_join
        FROM (SELECT user_id, COUNT(*) AS na FROM ev
              WHERE event_type = 'click' GROUP BY 1) a
        JOIN (SELECT user_id, COUNT(*) AS nb FROM ev
              WHERE event_type = 'view' GROUP BY 1) b USING (user_id)),
      assembled AS (
        SELECT rows_a, rows_b,
               est_a + est_b - est_union AS est_keys_common,
               est_a, est_b, CAST(exact_join AS BIGINT) AS exact_join
        FROM est_a CROSS JOIN est_b CROSS JOIN est_u
             CROSS JOIN counts CROSS JOIN exactj)
      SELECT rows_a, rows_b, est_keys_common,
             CAST(CAST(est_keys_common AS HUGEINT)
                  * (rows_a // est_a) * (rows_b // est_b) AS BIGINT) AS est_join,
             exact_join,
             CAST(((CAST(est_keys_common AS HUGEINT)
                    * (rows_a // est_a) * (rows_b // est_b)
                    - exact_join) * 1000000)
                  // exact_join AS BIGINT) AS err_ppm
      FROM assembled
    """.stripMargin.trim))

  /** The KMV sketch maintained LIVE over a stream — the sketch-merge
    * algebra ("union = K smallest of the pooled hashes") executed
    * incrementally instead of asserted: the events feed replays as real
    * file-source micro-batches, and each `foreachBatch` folds the
    * batch's distinct user-hashes into a persisted per-type sketch
    * table by union + K-smallest (TwoStageOrder.kSmallest's
    * per-partition prefilter + bounded pooled fold, so no batch ever
    * ranks more than (types × P × K) + |batch| rows). Because the merge
    * is ASSOCIATIVE and IDEMPOTENT, the final sketch equals the batch
    * KMV of the whole table regardless of how the feed was
    * micro-batched — and a replayed batch (failure/retry) cannot change
    * it, the exactly-once-by-algebra property the replay family proves
    * for counts, here proved for sketch state. The oracle recomputes
    * the KMV from scratch in DuckDB: the STREAMING path must land on
    * the identical estimate bit-for-bit.
    *
    * At 100 TB the per-batch cost is |batch| + sketch (K rows/type);
    * corpus size only ever enters through the one-time exact audit
    * column, exactly as in [[kmvDistinct]].
    */
  /** THE per-type KMV merge: union two (event_type, h) hash sets and
    * keep the K smallest per type — associative, commutative and
    * idempotent (KmvLiveSpec pins all three), which is what makes the
    * live maintenance below batching-independent and replay-safe. The
    * rank runs per (type, input-partition) then over the pooled ≤ P·K
    * survivors — TwoStageOrder.kSmallest's shape, row-retrieving.
    */
  private[operators] def mergeKmvSketch(
      sketch: DataFrame, batch: DataFrame): DataFrame =
    sketch.unionByName(batch).distinct()
      .withColumn("__pid", spark_partition_id())
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_type", "__pid").orderBy(asc("h"))))
      .filter(col("__r") <= K)
      .groupBy("event_type")
      .agg(slice(sort_array(collect_list(col("h"))), 1, K).as("__pool"))
      .select(col("event_type"), explode(col("__pool")).as("h"))

  val kmvDistinctLive: QueryDef = QueryDef(
    "stream_kmv_distinct_live",
    (s0, dir) => {
      val feed = LiveFeed(s0, "graft-kmv-live")
      val s = feed.session
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("user_id")).localCheckpoint(true)
      val sketchDir = s"${feed.base}/sketch"
      val arrivals = feed.stream(ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 === 1))
      // seed an empty sketch so every batch is the same read-merge-write
      ev.limit(0).select(col("event_type"), kmvHash.as("h"))
        .write.parquet(sketchDir)
      feed.run(arrivals.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val sb = batch.sparkSession
          val bh = batch.select(col("event_type"), kmvHash.as("h")).distinct()
          val merged = mergeKmvSketch(sb.read.parquet(sketchDir), bh)
            // materialized BEFORE the overwrite of the table it reads
            .localCheckpoint(true)
          merged.write.mode("overwrite").parquet(sketchDir)
          ()
        })
      // vk = the K-th smallest = the sketch maximum when the sketch is
      // full, null when the type has fewer than K distinct users
      val sketch = s.read.parquet(sketchDir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_kept"),
          when(count(lit(1)) === K, max(col("h"))).as("vk"))
      kmvAudit(sketch, Tables.events(s, dir))
    },
    // union = K smallest of the pooled hashes: the live sketch is the
    // batch sketch, so the oracle IS the batch audit's SQL
    kmvDistinct.oracle)

  /** The count-min sketch maintained LIVE over a stream — the additive
    * counterpart of [[kmvDistinctLive]]: count-min's merge is cell-wise
    * SUM, associative and commutative, so the final sketch equals the
    * batch-built sketch of the whole feed REGARDLESS of micro-batch
    * boundaries or order. Unlike KMV union, addition is NOT idempotent
    * — a replayed batch would double-count — so the fold guards each
    * epoch with a batch-id marker (the standard idempotent-foreachBatch
    * recipe: check applied/<batchId> before merging, record it with the
    * write). The oracle is the same SQL as the batch sketch audit
    * ([[countMin]]): the streaming path must land on bit-identical cell
    * totals, proving the mergeability claim by execution.
    *
    * At 100 TB the per-batch cost is |batch| keyed aggregation + a
    * d·w-cell merge; the corpus only enters through the one-time exact
    * audit probe, exactly as in [[kmvDistinctLive]].
    */
  val countMinLive: QueryDef = QueryDef(
    "stream_countmin_live",
    (s0, dir) => {
      val feed = LiveFeed(s0, "graft-cm-live")
      val s = feed.session
      val ev = Tables.events(s, dir)
        .select(col("user_id")).localCheckpoint(true)
      val sketchDir = s"${feed.base}/sketch"
      val arrivals = feed.stream(ev.filter(col("user_id") % 2 === 0),
        ev.filter(col("user_id") % 2 === 1))
      def cellsOf(df: DataFrame) = cmSketch(cmCells(userCounts(df)))
      // seed the d×w state empty so every batch is the same read-merge-write
      cellsOf(ev.limit(0)).write.parquet(sketchDir)
      feed.run(arrivals.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
          val marker = java.nio.file.Paths.get(s"${feed.base}/applied/$bid")
          if (!java.nio.file.Files.exists(marker)) {
            val sb = batch.sparkSession
            val merged = cellsOf(batch.toDF())
              .unionByName(sb.read.parquet(sketchDir))
              .groupBy("j", "h").agg(sum(col("cell_total")).as("cell_total"))
              .localCheckpoint(true) // materialized BEFORE overwriting its own input
            merged.write.mode("overwrite").parquet(sketchDir)
            java.nio.file.Files.createDirectories(marker.getParent)
            java.nio.file.Files.createFile(marker)
          }
          ()
        })
      // probe the LIVE-built sketch with the batch audit: exact top-20
      // heavy hitters vs their count-min estimates
      cmAudit(cmCells(userCounts(Tables.events(s, dir))), s.read.parquet(sketchDir))
    },
    // bit-identical to the batch-built sketch by merge algebra — the
    // oracle IS the batch audit's SQL
    countMin.oracle)

  /** Subsample-merge quantile summary — the rank-subsampling sketch
    * (every QM-th row of each deterministic partition's sorted run)
    * with its merge = plain UNION of the per-partition summaries, plus
    * the exact audit: a merged summary of P partitions with stride QM
    * answers any rank query within ±QM·P, so each released quantile
    * ships its measured rank error against the exact global rank and an
    * `ok` flag for the theoretical bound. All ranking runs through the
    * two-stage pattern (per-partition windows + TwoStageOrder) — no
    * global WindowExec despite three distinct rank computations.
    *
    * Scale shape: partitions are DETERMINISTIC (content-hash % P, not
    * spark_partition_id), so the summary is reproducible at any
    * parallelism; the summary is n/QM rows, the query frame is 5 rows,
    * and the one full-data rank is the exact-audit column — a
    * production rollout drops the audit and keeps the n/QM-row sketch,
    * which merges across shards/days by union exactly as built here.
    */
  private val QP = 32  // deterministic summary partitions
  private val QM = 64  // subsample stride: keep every QM-th row per partition

  val quantileSubsampleMerge: QueryDef = QueryDef(
    "sketch_quantile_subsample_merge",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = Tables.lineitem(s, dir)
        .select(
          expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)").as("v"),
          col("l_orderkey").as("okey"), col("l_linenumber").as("lnum"))
        .localCheckpoint(false)
      val pidded = base.withColumn("pid", expr(ScalePatterns.hexIntSpark(
        "md5(CAST(CONCAT(CAST(okey AS STRING), ':', CAST(lnum AS STRING)) AS BINARY))"))
        % QP)
      val kept = pidded
        .withColumn("lrank", row_number().over(
          Window.partitionBy("pid").orderBy(asc("v"), asc("okey"), asc("lnum"))))
        .filter(expr(s"(lrank - 1) % $QM = 0"))
        .select("v", "okey", "lnum")
        // consumed by the boundary selection's count + selection passes
        .localCheckpoint(false)
      // The five probed summary ranks come from exact boundary TUPLES
      // over the kept summary ([[TwoStageOrder.orderStatisticTuples]] —
      // aggregation-only, r18) instead of ranking EVERY summary row
      // (withGlobalRank: range exchange + checkpoint + offset join) to
      // read 5 of the ranks. The target rank j* derives from the FACT
      // table's row count, so n_rows is counted once here (base is the
      // query's own checkpointed projection — the count is its
      // materializing action, not an extra scan) and baked into the
      // rank expressions; the bracket centers q = j*·QM/n_rows sit
      // within QP+2 summary ranks of q·k_tot (k_tot ∈
      // [n/QM, n/QM + QP]), declared via maxRankDev.
      val nRows = base.count()
      val targets = Seq(25, 50, 75, 90, 99).map { qp =>
        val targetRank = (qp * nRows + 99) / 100
        val jStar = (targetRank + QM - 2) / QM + 1
        (qp, targetRank, jStar)
      }
      val sel = TwoStageOrder.orderStatisticTuples(kept,
        Seq(("v", Seq("okey", "lnum"), targets.map { case (qp, _, jStar) =>
          (s"t$qp", jStar.toDouble * QM / nRows, s"LEAST(${jStar}L, n)")
        })),
        maxRankDev = QP + 2)
      // (v, okey, lnum) need not be UNIQUE in the fact table (the
      // synthetic lineitem duplicates line numbers); the exact rank of a
      // released tuple t is its MIN rank over the duplicate run, which
      // equals |{rows < t}| + 1 — ONE conditional-sum pass over the fact
      // against the broadcast 1-row selection (r18: the previous form
      // crossJoined the 5 selected rows into the fact, pushing 5× the
      // rows through the audit aggregation).
      val flatAggs: Seq[org.apache.spark.sql.Column] =
        targets.map { case (qp, _, _) =>
          sum(when(col("v") < col(s"t$qp.v") ||
              (col("v") === col(s"t$qp.v") && (col("okey") < col(s"t$qp.okey") ||
                (col("okey") === col(s"t$qp.okey") && col("lnum") < col(s"t$qp.lnum")))),
            1L).otherwise(0L)).as(s"blw$qp")
        } ++ targets.map { case (qp, _, _) => max(col(s"t$qp.v")).as(s"v$qp") } :+
          max(col("n")).as("k_tot")
      base.crossJoin(broadcast(sel))
        .agg(flatAggs.head, flatAggs.tail: _*)
        .select(explode(array(targets.map { case (qp, targetRank, jStar) =>
          val keptRank = least(lit(jStar), col("k_tot"))
          struct(lit(qp.toLong).as("q_pct"), lit(nRows).as("n_rows"),
            lit(targetRank).as("target_rank"), keptRank.as("kept_rank"),
            ((keptRank - 1L) * QM + 1L).as("est_rank"),
            col(s"v$qp").as("value_cents"),
            (col(s"blw$qp") + 1L).as("exact_rank"))
        }: _*)).as("e"))
        .select(col("e.q_pct").as("q_pct"), col("e.n_rows").as("n_rows"),
          col("e.target_rank").as("target_rank"), col("e.kept_rank").as("kept_rank"),
          col("e.est_rank").as("est_rank"), col("e.value_cents").as("value_cents"),
          col("e.exact_rank").as("exact_rank"),
          abs(col("e.exact_rank") - col("e.est_rank")).as("rank_err"),
          lit(QM.toLong * QP).as("err_bound"),
          (abs(col("e.exact_rank") - col("e.est_rank")) <= QM.toLong * QP).as("ok"))
        .orderBy("q_pct")
    },
    Some(s"""
      WITH base AS (
        SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v,
               l_orderkey AS okey, l_linenumber AS lnum
        FROM lineitem),
      pidded AS (
        SELECT *, (${ScalePatterns.hexIntDuck(
          "md5(CAST(okey AS VARCHAR) || ':' || CAST(lnum AS VARCHAR))")}) % $QP AS pid
        FROM base),
      kept AS (
        SELECT v, okey, lnum FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY pid ORDER BY v, okey, lnum) AS lrank
          FROM pidded)
        WHERE (lrank - 1) % $QM = 0),
      pooled AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY v, okey, lnum) AS j,
               COUNT(*) OVER () AS k_tot
        FROM kept),
      q AS (
        SELECT n_rows, q_pct,
               (q_pct * n_rows + 99) // 100 AS target_rank,
               ((q_pct * n_rows + 99) // 100 + $QM - 2) // $QM + 1 AS j_star
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM base)
        CROSS JOIN (VALUES (25), (50), (75), (90), (99)) t(q_pct)),
      sel AS (
        SELECT q.q_pct, q.n_rows, q.target_rank, p.j AS kept_rank,
               (p.j - 1) * $QM + 1 AS est_rank, p.v, p.okey, p.lnum
        FROM pooled p JOIN q ON p.j = LEAST(q.j_star, p.k_tot)),
      exact AS (
        SELECT v, okey, lnum, ROW_NUMBER() OVER (ORDER BY v, okey, lnum) AS g
        FROM base),
      audited AS (
        SELECT s.q_pct, s.n_rows, s.target_rank, s.kept_rank, s.est_rank,
               s.v, MIN(e.g) AS exact_rank
        FROM sel s JOIN exact e
          ON s.v = e.v AND s.okey = e.okey AND s.lnum = e.lnum
        GROUP BY 1, 2, 3, 4, 5, 6)
      SELECT CAST(q_pct AS BIGINT) AS q_pct, n_rows, target_rank,
             CAST(kept_rank AS BIGINT) AS kept_rank,
             CAST(est_rank AS BIGINT) AS est_rank,
             v AS value_cents, CAST(exact_rank AS BIGINT) AS exact_rank,
             CAST(ABS(exact_rank - est_rank) AS BIGINT) AS rank_err,
             CAST(${QM.toLong * QP} AS BIGINT) AS err_bound,
             ABS(exact_rank - est_rank) <= ${QM.toLong * QP} AS ok
      FROM audited
      ORDER BY q_pct
    """.stripMargin.trim))

  val defs: Seq[QueryDef] =
    Seq(countMin, kmvDistinct, kmvSetOps, joinSizeEstimate, kmvDistinctLive,
      quantileSubsampleMerge, countMinLive)
}
