package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{QueryDef, Tables}
import graft.functions.VectorExpressions.{cosRankSql, cosSql, dotSql, normCteSql, topkCteSql}

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * The family, by the question each query answers:
  *  - probe top-5 of the ten query vectors (vec_id < 10): the exact
  *    brute-force baseline, IVF (candidates in the query's `label`
  *    cell, per-query and prebuilt), IVF multiprobe (the two nearest
  *    centroids' cells), hyperplane LSH (8-bit sign signature, per-query
  *    and prebuilt); int8 quantization error beside them.
  *  - k-NN graphs, top-3 per vector: the uncapped cell graph (exact
  *    baseline), the cell-capped graph (three sub-split rounds), its
  *    incremental maintenance (forward delta, reverse delta, apply) on
  *    the stored census grid, the cross-cell edge layer, and the capped
  *    graph's recall against the exact one.
  *  - quantizers: k-means IVF training, PQ with ADC shortlist and exact
  *    re-rank, residual quantization gain, IVFADC (inline, prebuilt,
  *    batched).
  *  - graph search: greedy beam walks over the navigable graph (single
  *    and batched) and their search recall; the engaged AuditGuard row.
  *
  * Shared vocabulary. Scores are `float_dot` on the Spark side and its
  * DuckDB spelling in the oracles: both fold (double)a[i]·(double)b[i]
  * left to right, so cosines are bit-identical and the (cos DESC, id
  * ASC) ranks agree. The DuckDB dot, cosine, norm CTE and per-key top-k
  * CTE live once in [[graft.functions.VectorExpressions]], next to
  * `float_dot`; this object composes them into the probe pairs
  * ([[pairsSql]], [[probeScoredSql]]), the ranked tail
  * ([[rankedTopkSql]]), the LSH signature ([[sigCtesSql]]), the
  * multiprobe CTEs and the capped sub-split twins, which the recall
  * gates in PipelineCompositions reuse. On the Spark side the capped
  * family shares one census ([[census]]), one sub-split, the capped
  * rounds and one top-k rank step ([[topByCos]]; the stored edge sets
  * use [[storedTop3]]). The oracles never call Spark-side code.
  */
object AnnSearch {

  private def withNorm(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"), col("embedding"),
      expr("sqrt(float_dot(embedding, embedding))").as("nrm"))

  /** The q×c pair cosine of two index frames aliased q and c. */
  private def pairCos: Column =
    (expr("float_dot(q.embedding, c.embedding)") / (col("q.nrm") * col("c.nrm"))).as("cos")

  /** Sub-cell cap for every capped graph derivation (declared ahead of
    * all its use sites — SQL twins interpolate it at object init). */
  private val CellCap = 16

  /** The rank order of every cosine top-k: (cos DESC, cand_id ASC) per qid. */
  private val byCos = Window.partitionBy("qid").orderBy(desc("cos"), asc("cand_id"))

  /** Each qid's `k` best `pairs` rows as (qid, rank, cand_id, cos), rank LONG. */
  private def topByCos(pairs: DataFrame, k: Int): DataFrame =
    pairs.withColumn("rank", row_number().over(byCos).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cand_id", "cos")

  /** The `e` CTE the twins read: (vec_id, label, embedding, nrm). */
  private lazy val eCteSql = normCteSql("e", "vec_id, label, embedding")

  /** (`qidCol`, cand_id, cos) of the q×c pairs of `from`, a join of two
    * relations aliased q and c that carry `embedding` and `nrm`. */
  private def pairsSql(from: String, qidCol: String = "qid"): String =
    s"""SELECT q.vec_id AS $qidCol, c.vec_id AS cand_id,
       |       ${cosSql("q", "c")} AS cos
       |FROM $from""".stripMargin

  /** `scored AS (...)`: the probe pairs of the ten query vectors
    * (vec_id < 10) against the rest of `from`; `pred` is appended to the
    * join condition. */
  private[operators] def probeScoredSql(scored: String, from: String, pred: String): String =
    s"""$scored AS (
       |  ${pairsSql(s"$from q JOIN $from c ON q.vec_id < 10 AND q.vec_id != c.vec_id$pred")})""".stripMargin

  /** The tail of the top-k twins: each qid's top-`k` rows of `src` as
    * (qid, rank, cand_id, cos) with a BIGINT rank, ordered. */
  private def rankedTopkSql(src: String, k: Int): String =
    s"""ranked AS (
       |  SELECT qid, cand_id, cos,
       |         CAST(${cosRankSql()} AS BIGINT) AS rank
       |  FROM $src)
       |SELECT qid, rank, cand_id, cos FROM ranked
       |WHERE rank <= $k
       |ORDER BY qid, rank""".stripMargin

  /** Prebuilt IVF index: (vec_id, label, embedding, nrm), computed ONCE
    * per (session, corpus) and pinned in storage — the amortization a
    * 100 TB deployment does by persisting the signature table bucketed by
    * label so probes are co-located and never touch the raw corpus.
    * Locally the memoized, pinned localCheckpoint plays that role (same
    * pattern as NpmReplayOps.replayCache); probe queries read it without
    * a single parquet scan (pinned by PlanShapeSpec).
    */
  private val indexCache = new graft.SessionCache[DataFrame]

  private[graft] def index(s: SparkSession, dir: String): DataFrame =
    indexCache.getOrElseUpdate(s, dir) {
      graft.functions.VectorExpressions.register(s)
      graft.PinnedStorage.pin(s) {
        // one signature table serves BOTH probe paths: IVF prunes on
        // label, hyperplane LSH on sig — exactly the columns a 100 TB
        // deployment persists (bucketed by the probe key)
        withNorm(Tables.embeddings(s, dir))
          .withColumn("sig", concat(sigBits: _*))
          .localCheckpoint(true)
      }
    }

  /** Probe over an already-materialized index frame: broadcast the (tiny)
    * query set, equi-join on the prune key ("label" for IVF, "sig" for
    * hyperplane LSH, none for brute force), window top-k.
    */
  private def probeTopk(e: DataFrame, pruneKey: Option[String]): DataFrame = {
    val queries = e.filter(col("vec_id") < 10)
    val distinctVec = col("q.vec_id") =!= col("c.vec_id")
    val joinCond = pruneKey
      .map(k => col(s"q.$k") === col(s"c.$k") && distinctVec)
      .getOrElse(distinctVec)
    topByCos(broadcast(queries).as("q").join(e.as("c"), joinCond)
      .select(col("q.vec_id").as("qid"), col("c.vec_id").as("cand_id"),
        pairCos), 5)
      .orderBy("qid", "rank")
  }

  private def topk(s: SparkSession, dir: String, sameClusterOnly: Boolean): DataFrame = {
    graft.functions.VectorExpressions.register(s)
    // per-query index build — kept as the build-cost baseline next to the
    // _prebuilt probe; ContextCleaner frees blocks on GC (cache() entries pin forever)
    probeTopk(withNorm(Tables.embeddings(s, dir)).localCheckpoint(true),
      if (sameClusterOnly) Some("label") else None)
  }

  private def topkSql(clusterPred: String): String =
    s"""
      WITH $eCteSql,
      ${probeScoredSql("scored", "e", s" $clusterPred")},
      ${rankedTopkSql("scored", 5)}
    """.stripMargin.trim

  val bruteForce: QueryDef = QueryDef(
    "ann_cosine_topk_bruteforce",
    (s, dir) => topk(s, dir, sameClusterOnly = false),
    Some(topkSql("")))

  val ivfLabel: QueryDef = QueryDef(
    "ann_cosine_topk_ivf",
    (s, dir) => topk(s, dir, sameClusterOnly = true),
    Some(topkSql("AND q.label = c.label")))

  /** IVF probe against the prebuilt pinned index — identical semantics
    * (and oracle) to ann_cosine_topk_ivf, but the bench time is
    * probe-only: the index is built once per session, not inside every
    * query. This is the shape a 100 TB ANN service runs.
    */
  val ivfPrebuilt: QueryDef = QueryDef(
    "ann_cosine_topk_ivf_prebuilt",
    (s, dir) => probeTopk(index(s, dir), Some("label")),
    Some(topkSql("AND q.label = c.label")))

  /** Random-hyperplane LSH: 8 sign bits (one per ±1 hyperplane) form the
    * bucket key; candidates come from an equi-join on the full signature,
    * so the probe is a hash join on an 8-bit code — the third scale path
    * next to IVF (data-independent, no training pass). The hyperplanes
    * are pseudo-random ±1 patterns from a fixed arithmetic rule so the
    * DuckDB oracle regenerates them bit-for-bit; each sign projection is
    * a codegen `float_dot` against a literal array.
    */
  private val Dim = 64
  private def planeSql(j: Int): String =
    (0 until Dim).map(i => if ((i * (j + 1)) % 3 == 0) "1.0F" else "-1.0F")
      .mkString("array(", ", ", ")")

  /** The 8 sign-bit columns of the hyperplane signature — shared by the
    * per-query LSH build and the prebuilt index. */
  private lazy val sigBits: Seq[Column] = (0 until 8).map(j =>
    when(expr(s"float_dot(embedding, ${planeSql(j)})") > 0, lit("1")).otherwise(lit("0")))

  /** DuckDB twin of [[sigBits]] over an `e` CTE: `bits` (each sign bit),
    * `sig` (the signature string) and `es` (`e` with its `sig`). */
  private[operators] lazy val sigCtesSql: String = s"""bits AS (
        SELECT e.vec_id, CAST(j.range AS INT) AS j,
               CASE WHEN list_reduce(list_transform(generate_series(1, $Dim),
                      i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
                           (CASE WHEN ((i - 1) * (CAST(j.range AS INT) + 1)) % 3 = 0
                                 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)),
                      (x, y) -> x + y) > 0 THEN '1' ELSE '0' END AS b
        FROM e CROSS JOIN range(0, 8) j),
      sig AS (SELECT vec_id, string_agg(b, '' ORDER BY j) AS sig FROM bits GROUP BY vec_id),
      es AS (SELECT e.vec_id, e.embedding, e.nrm, s.sig FROM e JOIN sig s ON e.vec_id = s.vec_id)"""

  val hyperplaneLsh: QueryDef = QueryDef(
    "ann_cosine_topk_hyperlsh",
    (s, dir) => {
      graft.functions.VectorExpressions.register(s)
      val e = withNorm(Tables.embeddings(s, dir))
        .withColumn("sig", concat(sigBits: _*))
        .localCheckpoint(true)  // query + corpus sides of the bucket join; GC-freed
      probeTopk(e, Some("sig"))
    },
    Some(hyperLshSql))

  /** LSH probe against the prebuilt pinned index (same signature column
    * IVF shares) — probe-only cost, identical results and oracle to
    * ann_cosine_topk_hyperlsh.
    */
  val lshPrebuilt: QueryDef = QueryDef(
    "ann_cosine_topk_hyperlsh_prebuilt",
    (s, dir) => probeTopk(index(s, dir), Some("sig")),
    Some(hyperLshSql))

  private lazy val hyperLshSql: String = s"""
      WITH ${normCteSql("e", "vec_id, embedding")},
      $sigCtesSql,
      ${probeScoredSql("scored", "es", " AND q.sig = c.sig")},
      ${rankedTopkSql("scored", 5)}
    """.stripMargin.trim

  /** THE int8 quantizer, defined once for every gate that measures it
    * (reconstruction error here, recall@5 in PipelineCompositions) — a
    * second hand-written copy would let the two gates silently validate
    * different quantizers after a parameter change. `x`/`v` are the
    * element variable names inside the enclosing lambda.
    */
  private[operators] def int8Quant(x: String): String =
    s"cast(greatest(-128.0D, least(127.0D, floor(cast($x as double) * 64.0D))) as int)"
  private[operators] def int8Dequant(v: String): String =
    s"(cast($v as double) + 0.5D) / 64.0D"
  private[operators] def int8QuantSql(x: String): String =
    s"CAST(greatest(-128.0, least(127.0, floor(CAST($x AS DOUBLE) * 64.0))) AS INT)"
  private[operators] def int8DequantSql(v: String): String =
    s"(CAST($v AS DOUBLE) + 0.5) / 64.0"

  /** Int8 scalar quantization error: quantize each embedding to one
    * byte per dimension (floor(x·64) clamped to [-128,127], midpoint
    * dequantization) and report the per-vector reconstruction error —
    * the metric that gates shipping a 4×-smaller vector table (4 B
    * float → 1 B) at 100 TB, where embedding bytes dominate both the
    * index footprint and every probe's shuffle/broadcast volume.
    *
    * Oracle-exact on both engines: floor/clamp are unambiguous (no
    * round-half semantics), float→double widening is exact, and the
    * error sum left-folds sequentially (Spark `aggregate` HOF vs DuckDB
    * `list_reduce`, the bit-identical pairing embeddingCosine proved).
    */
  val int8QuantError: QueryDef = QueryDef(
    "ann_int8_quantization_error",
    (s, dir) => {
      Tables.embeddings(s, dir)
        .withColumn("q8", expr(s"transform(embedding, x -> ${int8Quant("x")})"))
        .withColumn("se", expr(
          s"""aggregate(
            |  zip_with(embedding, q8,
            |    (a, b) -> (cast(a as double) - ${int8Dequant("b")})
            |            * (cast(a as double) - ${int8Dequant("b")})),
            |  0.0D, (acc, x) -> acc + x)""".stripMargin))
        .withColumn("max_abs_err", expr(
          s"""array_max(zip_with(embedding, q8,
            |  (a, b) -> abs(cast(a as double) - ${int8Dequant("b")})))""".stripMargin))
        .select(col("vec_id"),
          (col("se") / size(col("embedding"))).as("mse"),
          col("max_abs_err"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id, embedding,
               list_transform(embedding, x -> ${int8QuantSql("x")}) AS q8
        FROM embeddings)
      SELECT vec_id,
             list_reduce(list_transform(generate_series(1, len(embedding)),
               i -> (CAST(embedding[CAST(i AS INT)] AS DOUBLE) - ${int8DequantSql("q8[CAST(i AS INT)]")})
                  * (CAST(embedding[CAST(i AS INT)] AS DOUBLE) - ${int8DequantSql("q8[CAST(i AS INT)]")})),
               (x, y) -> x + y) / len(embedding) AS mse,
             list_max(list_transform(generate_series(1, len(embedding)),
               i -> abs(CAST(embedding[CAST(i AS INT)] AS DOUBLE) - ${int8DequantSql("q8[CAST(i AS INT)]")}))) AS max_abs_err
      FROM q
      ORDER BY vec_id
    """.stripMargin.trim))

  /** IVF MULTIPROBE: probe the `nprobe = 2` nearest clusters instead of
    * only the query's own — the standard recall lever of an IVF index
    * (probe more lists, re-rank exactly). The single-probe variant
    * (`ann_cosine_topk_ivf`) misses any neighbor whose cluster differs
    * from the query's; multiprobe trades candidate volume (2/k of the
    * corpus instead of 1/k) for that recall, which is how a 100 TB
    * deployment tunes the quality/cost dial WITHOUT rebuilding the index.
    *
    * Centroids are derived from the data (per-dimension mean per label),
    * not assumed: the per-dimension sums run as DECIMAL(20,10) — exact,
    * order-independent addition, so Spark and DuckDB agree bit-for-bit —
    * and only the final mean takes one IEEE division. Query→centroid and
    * query→candidate cosines use the same sequential fold pairing
    * (`aggregate`/`zip_with` vs `list_reduce`/`list_transform`) the rest
    * of the ANN family proved hash-identical.
    *
    * Scale shape: centroid build is one narrow shuffle of (label, pos)
    * partial sums (k×dim rows total — trivially broadcastable), probes
    * broadcast the per-query cluster choices, and candidate generation
    * stays an equi-join on label against the pinned index.
    */
  /** Data-derived per-label centroids: per-dimension means accumulated
    * as DECIMAL(20,10) (exact, order-independent addition — Spark and
    * DuckDB agree bit-for-bit), one IEEE division at the end. Shared by
    * the multiprobe ranking and the incremental assignment query so the
    * two can never drift onto different centroid definitions. Returns
    * (label, centroid: array<double>, cnrm).
    */
  private def centroidsOf(em: DataFrame): DataFrame = {
    val comp = em
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum(col("x").cast("decimal(20,10)")).as("sx"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("sx").cast("double") / col("n")).as("c"))
    comp.groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .as("centroid"))
      .withColumn("cnrm", expr(
        "sqrt(aggregate(transform(centroid, x -> x * x), 0.0D, (a, b) -> a + b))"))
  }

  /** Cosine of an index vector `q` and a centroid `ct` of [[centroidsOf]]
    * (the centroid is already double), and its DuckDB twin over `centn`. */
  private def centroidCos: Column =
    (expr("""aggregate(zip_with(q.embedding, ct.centroid,
             (a, b) -> cast(a as double) * b), 0.0D, (acc, x) -> acc + x)""")
      / (col("q.nrm") * col("ct.cnrm"))).as("ccos")
  private lazy val centroidCosSql: String =
    s"""list_reduce(list_transform(generate_series(1, $Dim),
       |  i -> CAST(q.embedding[CAST(i AS INT)] AS DOUBLE) * ct.centroid[CAST(i AS INT)]),
       |  (x, y) -> x + y) / (q.nrm * ct.cnrm)""".stripMargin

  /** The centroid CTE chain (comp → cent → centn) for the oracles;
    * `pred` scopes which embeddings contribute (e.g. the corpus side of
    * the incremental split). */
  private def centroidSql(pred: String): String = s"""
      comp AS (
        SELECT label, CAST(i.range AS INT) + 1 AS pos,
               CAST(SUM(CAST(embedding[CAST(i.range AS INT) + 1] AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
        FROM embeddings CROSS JOIN range(0, $Dim) i
        $pred
        GROUP BY 1, 2),
      cent AS (
        SELECT label, list(c ORDER BY pos) AS centroid FROM comp GROUP BY label),
      centn AS (
        SELECT label, centroid,
               sqrt(list_reduce(list_transform(centroid, x -> x * x), (x, y) -> x + y)) AS cnrm
        FROM cent)"""

  /** The multiprobe twin after the `e` CTE: the centroid chain, `probes`
    * (each query's two nearest centroids) and `scored` (the pairs of each
    * query against the members of its probed cells). */
  private[operators] def multiprobeCtesSql(scored: String): String = {
    val probed = """e q
        JOIN probes p ON p.qid = q.vec_id
        JOIN e c ON c.label = p.label AND c.vec_id != q.vec_id"""
    s"""${centroidSql("")},
      probes AS (
        SELECT qid, label FROM (
          SELECT q.vec_id AS qid, ct.label,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                   $centroidCosSql DESC, ct.label ASC) AS cr
          FROM e q CROSS JOIN centn ct
          WHERE q.vec_id < 10) t
        WHERE cr <= 2),
      $scored AS (
        ${pairsSql(probed)})"""
  }

  val ivfMultiprobe: QueryDef = QueryDef(
    "ann_cosine_topk_ivf_multiprobe",
    (s, dir) => {
      graft.functions.VectorExpressions.register(s)
      val e = index(s, dir)
      val cent = centroidsOf(Tables.embeddings(s, dir))
      // top-2 clusters per query by centroid cosine
      val wq = Window.partitionBy("qid").orderBy(desc("ccos"), asc("label"))
      val probes = broadcast(e.filter(col("vec_id") < 10).as("q"))
        .join(broadcast(cent).as("ct"))
        .select(col("q.vec_id").as("qid"), col("ct.label").as("label"),
          centroidCos)
        .withColumn("cr", row_number().over(wq))
        .filter(col("cr") <= 2)
        .select("qid", "label")
      // exact re-rank over the union of the probed clusters
      topByCos(broadcast(e.filter(col("vec_id") < 10).as("q"))
        .join(broadcast(probes).as("p"), col("q.vec_id") === col("p.qid"))
        .join(e.as("c"),
          col("c.label") === col("p.label") && col("c.vec_id") =!= col("q.vec_id"))
        .select(col("p.qid").as("qid"), col("c.vec_id").as("cand_id"),
          pairCos), 5)
        .orderBy("qid", "rank")
    },
    Some(s"""
      WITH $eCteSql,
      ${multiprobeCtesSql("scored")},
      ${rankedTopkSql("scored", 5)}
    """.stripMargin.trim))

  /** INCREMENTAL IVF growth: newly arrived vectors (vec_id % 7 == 3
    * stands in for the arrival batch) are assigned to the nearest
    * EXISTING centroid — computed from the corpus side only, exactly
    * the persisted quantizer a deployment keeps. This is the ANN twin
    * of the incremental dedup path: O(|delta| × k) work per batch
    * (delta broadcast against k centroids), the inverted lists grow by
    * append, and the index is NEVER rebuilt for arrivals. `agree`
    * reports whether the cold assignment reproduces the vector's given
    * label — the drift metric that tells an operator when enough
    * arrivals landed off-centroid that retraining the quantizer is due.
    */
  val ivfAssignDelta: QueryDef = QueryDef(
    "ann_ivf_assign_delta",
    (s, dir) => {
      graft.functions.VectorExpressions.register(s)
      val em = Tables.embeddings(s, dir)
      val isNew = col("vec_id") % 7 === 3
      val cent = centroidsOf(em.filter(!isNew))
      val delta = withNorm(em.filter(isNew))
      // rank on ccos ROUNDED to 1e-6 (both engines): the raw cosines
      // differ ~1e-9 across engines (float->decimal rounding of the
      // centroid mean), so a near-tied pair of clusters could argmax
      // differently per engine; after rounding, a cross-engine flip
      // needs two centroids inside the same 1e-6 bucket, where the
      // label tie-break then decides identically on both sides
      val w = Window.partitionBy("vec_id")
        .orderBy(desc("ccos_r"), asc("assigned_label"))
      broadcast(delta).as("q").join(broadcast(cent).as("ct"))
        .select(col("q.vec_id").as("vec_id"), col("q.label").as("given_label"),
          col("ct.label").as("assigned_label"),
          centroidCos)
        .withColumn("ccos_r", round(col("ccos"), 6))
        .withColumn("cr", row_number().over(w))
        .filter(col("cr") === 1)
        // ccos stays internal (ranking only): the last ~1e-9 of the
        // centroid mean is NOT bit-identical across engines (float->
        // decimal rounding differs), which is invisible to the argmax
        // but would fail the exact-value gate if emitted
        .select(col("vec_id"), col("given_label"), col("assigned_label"),
          (col("given_label") === col("assigned_label")).as("agree"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH $eCteSql,
      ${centroidSql("WHERE vec_id % 7 <> 3")},
      assigned AS (
        SELECT vec_id, given_label, assigned_label, ccos,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY round(ccos, 6) DESC, assigned_label ASC) AS cr
        FROM (
          SELECT q.vec_id, q.label AS given_label, ct.label AS assigned_label,
                 $centroidCosSql AS ccos
          FROM e q CROSS JOIN centn ct
          WHERE q.vec_id % 7 = 3) t)
      SELECT vec_id, given_label, assigned_label,
             given_label = assigned_label AS agree
      FROM assigned WHERE cr = 1
      ORDER BY vec_id
    """.stripMargin.trim))

  /** Full k-NN graph construction: top-3 cosine neighbors for EVERY
    * vector, candidates scoped to the vector's own IVF cell — the batch
    * artifact that semantic dedup, cluster refinement, and
    * diversity-aware selection all consume (one graph build amortized
    * across every downstream pass, vs re-probing per query). Scale
    * shape: a self-join of the pinned index CO-PARTITIONED BY LABEL — at
    * 100 TB the signature table is bucketed by label, so the join is
    * shuffle-free cell-local work of O(Σ cell²), never corpus², and the
    * per-vector window ranks inside the same partitioning. Ties are
    * broken by cand_id in both engines, so the graph is deterministic
    * even under equal cosines; vectors alone in their cell simply have
    * no edges (inner join, consistent in both engines).
    *
    * This is the family's UNCAPPED exactness baseline — O(Σ cell²) by
    * design (r15 decade exponent 1.88), so the query side carries the
    * [[AuditGuard]]: above 4k corpus rows only a deterministic ~2k-row
    * systematic sample of qids is audited (candidates stay complete, so
    * each audited row's edges are exact), bounding the whole query at
    * O(keep · cell) at any corpus size. Every verification SF is below
    * the threshold and unchanged.
    */
  val knnGraph: QueryDef = QueryDef(
    "ann_knn_graph_ivf",
    (s, dir) => {
      val e = index(s, dir)
      topByCos(AuditGuard.sample(e, "vec_id").as("q").join(e.as("c"),
          col("q.label") === col("c.label") && col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("qid"), col("c.vec_id").as("cand_id"),
          pairCos), 3)
        .orderBy("qid", "rank")
    },
    Some(s"""
      WITH $eCteSql,
      scored AS (
        $cellPairsSql),
      ${rankedTopkSql("scored", 3)}
    """.stripMargin.trim))

  /** The exact cell-scoped pairs of [[knnGraph]] (audited query side),
    * shared with the [[recallKnnCapped]] twin. */
  private lazy val cellPairsSql: String =
    pairsSql(s"""e q JOIN e c ON q.label = c.label AND q.vec_id != c.vec_id
        WHERE ${AuditGuard.sqlPred("q.vec_id", "embeddings")}""")

  /** Arrival batch of the incremental family (the delta split). */
  private val isArrival = col("vec_id") % 7 === 3

  /** A corpus and its arrival batch, both sub-split on the CORPUS's
    * census — the stored grid incremental maintenance keeps. */
  private def storedGrid(e: DataFrame, isNew: Column): (DataFrame, DataFrame) = {
    val old = e.filter(!isNew)
    val sizes = census(old)
    (subSplit(old, sizes), subSplit(e.filter(isNew), sizes))
  }

  /** The delta twins' grid after `e`: the corpus `old`, its census, and
    * both cohorts sub-split on it (`osubx`, `nsubx`) — [[storedGrid]]. */
  private lazy val storedGridSql: String =
    s"""old AS (SELECT * FROM e WHERE vec_id % 7 <> 3),
      ${sizesSql("old")},
      ${subSplitSql("osub", "old", "")},
      ${subSplitSql("nsub", "e", " WHERE e.vec_id % 7 = 3")}"""

  /** INCREMENTAL k-NN graph growth: newly arrived vectors (vec_id % 7
    * == 3, the same arrival convention as [[ivfAssignDelta]]) get their
    * top-3 neighbors by probing the EXISTING corpus through the SAME
    * capped three-round sub-split the canonical artifact is built with
    * ([[cappedRounds]]; arrivals are placed into the existing census's
    * sub-cells). Maintaining the CAPPED graph, not the uncapped one, is
    * what keeps the arrival path linear: the r15 ×10 decade measurement
    * read exponent 1.49 for the old label-scoped probe (|delta| grows
    * with the corpus AND each cell grows with the corpus — a quadratic
    * split across the two factors), while capped sub-cells bound the
    * per-arrival candidate count at ~3·CellCap, so the batch cost is
    * O(|delta|) at any corpus size. Completes the incremental triple
    * (minhash delta dedup, IVF delta assignment, k-NN delta edges):
    * every index this engine builds has a full-build gate AND an
    * arrival path — and the graph the arrivals extend IS the graph the
    * recall gate prices. The symmetric maintenance direction — corpus
    * nodes whose own neighbor lists the arrivals should enter — is
    * declared and oracle-checked as [[knnGraphDeltaReverse]] (r15
    * verdict item 3: "same plan shape" deserves a green row, not a
    * comment).
    *
    * New-cell behavior (r15 advice): an arrival whose label has no
    * existing corpus member drops out of BOTH engines' inner join to
    * the old-census `sizes` — a first-arrival-in-cell vector produces
    * no edges (and no row) until the next full rebuild, because there
    * is nothing in its cell to link it to and the capped rounds are
    * cell-local by construction. The batch build ([[knnGraphCapped]])
    * picks such vectors up on its next run.
    */
  val knnGraphDelta: QueryDef = QueryDef(
    "ann_knn_graph_delta",
    (s, dir) => {
      // arrivals adopt the EXISTING corpus's sub-cell grid
      val (oldS, newS) = storedGrid(index(s, dir), isArrival)
      topByCos(cappedRounds(newS, oldS), 3).orderBy("qid", "rank")
    },
    Some(s"""
      WITH $eCteSql,
      $storedGridSql,
      cand AS (
        ${cappedCandBranchesSql("qid", "nsubx", "osubx")}),
      ${rankedTopkSql("cand", 3)}
    """.stripMargin.trim))

  /** SYMMETRIC incremental maintenance — the reverse direction of
    * [[knnGraphDelta]] (r15 verdict item 3): for every EXISTING corpus
    * node the arrivals can reach through the capped sub-cell rounds,
    * its top-3 candidate arrivals — the rows a merge step compares
    * against the node's stored 3rd-best cosine to decide which stored
    * adjacency lists change. Reads the SAME delta⋈corpus capped join as
    * the forward direction with the pair frame re-keyed by the CORPUS
    * side (partitioned by `node` = the old vector, ranked over the
    * arrivals that probed it) — now declared, oracle-checked, and
    * priced rather than argued identical-plan-shape in a comment.
    *
    * Scale shape: identical to the forward arm — the candidate frame is
    * O(|delta| · CellCap) (each arrival generates ≤ ~3·CellCap pairs
    * through the three mismatch-gated rounds), and re-keying is one
    * shuffle of that bounded frame, so the batch cost stays O(|delta|)
    * at any corpus size. Same new-cell behavior as the forward arm:
    * first-arrival-in-cell vectors reach no corpus node until the next
    * full rebuild.
    */
  val knnGraphDeltaReverse: QueryDef = QueryDef(
    "ann_knn_graph_delta_reverse",
    (s, dir) => {
      val (oldS, newS) = storedGrid(index(s, dir), isArrival)
      val w = Window.partitionBy("cand_id").orderBy(desc("cos"), asc("qid"))
      cappedRounds(newS, oldS)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("cand_id").as("node"), col("rank"),
          col("qid").as("arrival_id"), col("cos"))
        .orderBy("node", "rank")
    },
    Some(s"""
      WITH $eCteSql,
      $storedGridSql,
      cand AS (
        ${cappedCandBranchesSql("qid", "nsubx", "osubx")}),
      ranked AS (
        SELECT cand_id AS node, qid AS arrival_id, cos,
               CAST(${cosRankSql("cand_id", "qid")} AS BIGINT) AS rank
        FROM cand)
      SELECT node, rank, arrival_id, cos FROM ranked
      WHERE rank <= 3
      ORDER BY node, rank
    """.stripMargin.trim))

  /** The stored pre-delta graph as a pinned session artifact: top-3
    * capped edges WITH their cosines over the existing corpus
    * (vec_id % 7 != 3) under ITS OWN census grid — what a deployment's
    * incremental maintenance reads. Pinned per (session, corpus) by the
    * family's prebuilt convention ([[ivfAdcIndex]], [[knnEdges]]): the
    * apply query is priced as the DELTA work it adds, while the stored
    * build is the amortized artifact whose honest inline cost the
    * ann_knn_graph_capped carrier already pays every run. */
  private val storedOldEdgesCache = new graft.SessionCache[DataFrame]

  private def storedOldEdges(s: SparkSession, dir: String): DataFrame =
    storedOldEdgesCache.getOrElseUpdate(s, dir) {
      graft.PinnedStorage.pin(s) {
        val old = index(s, dir).filter(!isArrival)
        val oldS = subSplit(old, census(old))
        storedTop3(cappedRounds(oldS, oldS)).localCheckpoint(true)
      }
    }

  /** The MERGE/APPLY step of incremental k-NN maintenance — the last
    * link of the delta triple (r16 verdict item 3): [[knnGraphDelta]]
    * produces the arrivals' candidate edges, [[knnGraphDeltaReverse]]
    * the existing nodes' candidate arrivals, and this query APPLIES
    * both to the stored graph: maintained edge set = stored top-3
    * (old corpus, old grid) ∪ forward candidates ∪ reverse candidates
    * ∪ arrival↔arrival capped pairs, re-ranked top-3 per node by
    * (cos DESC, cand_id ASC).
    *
    * Defining invariant (gated in Round17Spec): the maintained graph
    * EQUALS the capped graph rebuilt from scratch over corpus+delta on
    * the STORED census grid ([[deltaApplyRebuild]]). The proof shape:
    * the capped rounds' pair set over the full corpus decomposes by
    * cohort into old×old ∪ new×old ∪ old×new ∪ new×new; the stored
    * top-3 dominates old×old for every old node (a pair outside a
    * node's stored top-3 cannot enter its merged top-3), the round
    * conditions are symmetric in (q, c) so old×new is exactly the
    * transpose of the forward frame, and new×new is generated
    * directly. Keeping the STORED grid (cell splits from the old
    * census) until the next full rebuild is the standard incremental-
    * index contract — re-deriving split counts per batch would move
    * every node's sub-cell assignment and force a full rebuild anyway.
    *
    * Scale shape: the stored artifact is a point read; the delta work
    * is O(|delta| · CellCap) candidate pairs (forward = reverse by
    * re-key, new×new bounded the same way) plus one top-3 re-rank
    * keyed by node over stored(3/node) ∪ bounded candidates — linear
    * in corpus with a small constant, O(|delta|) in the delta.
    *
    * NO-NEW-CELLS ASSUMPTION (r17 advice, now declared): an arrival
    * whose label has ZERO members in the stored census vanishes from
    * the maintained graph — subSplit inner-joins the arrival against
    * the OLD census, so a brand-new cell produces no rows (and
    * [[deltaApplyRebuild]] shares the same join, so the equality gate
    * cannot see the omission either). The assumption is AUDITABLE, not
    * silent: [[newCellArrivals]] names exactly the dropped arrivals,
    * and [[rebuildDue]] declares that a non-empty audit — like
    * cumulative delta crossing [[DeltaRebuildFrac]] — forces the next
    * full re-census. Round18Spec gates both directions (empty on this
    * corpus; detected on a synthetic new-cell batch).
    */
  val knnGraphDeltaApply: QueryDef = QueryDef(
    "ann_knn_graph_delta_apply",
    (s, dir) => {
      val e = index(s, dir)
      val (oldS, newS) = storedGrid(e, isArrival)
      applyDeltaStep(storedOldEdges(s, dir), oldS, newS).orderBy("qid", "rank")
    },
    Some(s"""
      WITH $eCteSql,
      $storedGridSql,
      ${topkCteSql("stored", s"(${cappedCandBranchesSql("qid", "osubx", "osubx")}) oc", 3,
          cols = "qid, cand_id, cos")},
      fwd AS (
        ${cappedCandBranchesSql("qid", "nsubx", "osubx")}),
      rev AS (SELECT cand_id AS qid, qid AS cand_id, cos FROM fwd),
      nn AS (
        ${cappedCandBranchesSql("qid", "nsubx", "nsubx")}),
      merged AS (
        SELECT * FROM stored UNION ALL SELECT * FROM fwd
        UNION ALL SELECT * FROM rev UNION ALL SELECT * FROM nn),
      ${rankedTopkSql("merged", 3)}
    """.stripMargin.trim))

  /** The maintenance invariant's reference arm (Round17Spec): the
    * capped top-3 graph rebuilt from scratch over corpus+delta on the
    * STORED (old-census) grid. Must equal [[knnGraphDeltaApply]]'s
    * result bit for bit — every expression is shared, so even the
    * cosines match exactly. */
  private[operators] def deltaApplyRebuild(s: SparkSession, dir: String): DataFrame = {
    val e = index(s, dir)
    rebuildOn(e, e.filter(!isArrival))
  }

  /** The capped top-3 graph rebuilt from scratch over all of `e`, cut on
    * the census of `corpus` (the stored grid). */
  private def rebuildOn(e: DataFrame, corpus: DataFrame): DataFrame = {
    val allS = subSplit(e, census(corpus))
    topByCos(cappedRounds(allS, allS), 3).orderBy("qid", "rank")
  }

  /** ONE apply step of incremental maintenance as a pure frame
    * function — the kernel [[knnGraphDeltaApply]] declares once and the
    * SEQUENTIAL contract iterates: given the current maintained edge
    * set (qid, cand_id, cos — top-3 per node over the current corpus
    * on the stored grid), the current corpus and an arrival batch
    * (both sub-split on the STORED grid), returns the maintained set
    * after the batch: stored ∪ forward ∪ reverse ∪ arrival×arrival,
    * re-ranked top-3 per node. The inductive invariant (gated apply∘
    * apply in Round18Spec): if `stored` is the exact capped top-3 over
    * the current corpus, the result is the exact capped top-3 over
    * corpus ∪ batch — so any chain of disjoint batches equals the
    * from-scratch rebuild on the stored grid. */
  private[operators] def applyDeltaStep(stored: DataFrame, curS: DataFrame,
      newS: DataFrame): DataFrame = {
    val fwd = cappedRounds(newS, curS)
    val rev = fwd.select(col("cand_id").as("qid"), col("qid").as("cand_id"),
      col("cos"))
    val nn = cappedRounds(newS, newS)
    topByCos(stored.select("qid", "cand_id", "cos").union(fwd).union(rev).union(nn), 3)
  }

  /** TWO-batch sequential maintenance (r17 verdict item 3): corpus0 =
    * residues ∉ {3, 5} under its OWN census grid; batch1 = %7==3,
    * batch2 = %7==5 — disjoint by construction. Applies batch1 then
    * batch2 through [[applyDeltaStep]] on the STORED grid (each
    * intermediate graph localCheckpointed — a deployment persists the
    * maintained artifact between batches, and the lineage would
    * otherwise double per step). Round18Spec gates the result equal,
    * bit for bit, to [[deltaApplySequentialRebuild]]. */
  private[operators] def deltaApplySequential(s: SparkSession, dir: String): DataFrame = {
    val e = index(s, dir)
    val isB1 = col("vec_id") % 7 === 3
    val isB2 = col("vec_id") % 7 === 5
    val c0 = e.filter(!isB1 && !isB2)
    val sizes = census(c0)
    val c0S = subSplit(c0, sizes)
    val m1 = applyDeltaStep(storedTop3(cappedRounds(c0S, c0S)), c0S,
        subSplit(e.filter(isB1), sizes))
      .select("qid", "cand_id", "cos")
      .localCheckpoint(true)
    val m2 = applyDeltaStep(m1, c0S.union(subSplit(e.filter(isB1), sizes)),
      subSplit(e.filter(isB2), sizes))
    m2.orderBy("qid", "rank")
  }

  /** Reference arm of the sequential contract: the capped top-3 graph
    * rebuilt from scratch over corpus0 ∪ batch1 ∪ batch2 on the
    * STORED (corpus0-census) grid. */
  private[operators] def deltaApplySequentialRebuild(s: SparkSession,
      dir: String): DataFrame = {
    val e = index(s, dir)
    rebuildOn(e, e.filter(!isArrival && !(col("vec_id") % 7 === 5)))
  }

  /** The arrivals the delta path CANNOT place: labels absent from the
    * stored census (the inner join to `sizes` drops them — see the
    * no-new-cells note on [[knnGraphDeltaApply]]). A maintenance
    * deployment routes this frame to the rebuild trigger rather than
    * assuming it is empty; Round18Spec gates both the empty case (this
    * corpus) and detection on a synthetic new-cell batch. */
  private[operators] def newCellArrivals(e: DataFrame,
      isNew: Column): DataFrame = {
    val census = e.filter(!isNew).select("label").distinct()
    e.filter(isNew).join(broadcast(census), Seq("label"), "left_anti")
  }

  /** The generalized apply core over an arbitrary embeddings frame
    * (vec_id, label, embedding, nrm) — what the declared query runs on
    * the pinned corpus, exposed so the new-cell gate can feed a
    * synthetic frame whose arrival labels are absent from the census. */
  private[operators] def applyDeltaOn(e: DataFrame,
      isNew: Column): DataFrame = {
    val (oldS, newS) = storedGrid(e, isNew)
    applyDeltaStep(storedTop3(cappedRounds(oldS, oldS)), oldS, newS)
  }

  /** Declared REBUILD TRIGGER for incremental maintenance (r17 verdict
    * item 3 — previously stale-grid prose): re-census (full rebuild on
    * a fresh grid) once cumulative |delta| exceeds
    * [[DeltaRebuildFrac]] × |corpus at last census|, or immediately
    * when [[newCellArrivals]] is non-empty. The fraction is MEASURED,
    * not chosen (DESIGN.md r18): the frozen grid inflates the capped
    * maintenance pair frame vs a re-censused one (occupancy grows
    * with (1+f) while nsplits stays frozen) — at
    * cumulative f ≈ 1/3, 2/3, 1, 4/3 the stale/fresh pair ratio reads
    * 1.08/1.22/1.30/1.45 at sf0.01 and 1.20/1.55/1.74/1.91 at sf0.1:
    * the larger corpus crosses 1.5× — the hot-cell territory the cap
    * exists to bound — between f = 1/3 and f = 2/3. The trigger at
    * 0.5 re-censuses before that measured crossing at both sizes
    * (inflation ≤ ~1.4× everywhere below it). */
  private[operators] val DeltaRebuildFrac = 0.5
  private[operators] def rebuildDue(cumDelta: Long, censusCorpus: Long,
      newCells: Long): Boolean =
    newCells > 0 || cumDelta > DeltaRebuildFrac * censusCorpus

  /** The (label → cellN) census of a corpus: the cell sizes its capped
    * sub-split is cut against. */
  private def census(df: DataFrame): DataFrame =
    df.groupBy("label").agg(count(lit(1)).as("cellN"))

  /** DuckDB twin of [[census]]: the `sizes` CTE over `from`. */
  private def sizesSql(from: String): String =
    s"sizes AS (SELECT label, COUNT(*) AS cellN FROM $from GROUP BY 1)"

  /** The three-digit sub-split of a frame against a [[census]] — the
    * capped universe's coordinates. The census is passed in (not derived
    * from `df`) so DELTA maintenance can place arrivals into the EXISTING
    * corpus's sub-cells. */
  private def subSplit(df: DataFrame, sizes: DataFrame): DataFrame =
    df.join(broadcast(sizes), "label")
      .withColumn("nsplits", ceil(col("cellN") / lit(CellCap.toDouble)).cast("long"))
      .withColumn("sub", pmod(col("vec_id"), col("nsplits")))
      // second and third independent groupings: the next two
      // base-nsplits digits of vec_id
      .withColumn("subb", pmod(expr("vec_id div nsplits"), col("nsplits")))
      .withColumn("subc", pmod(expr("(vec_id div nsplits) div nsplits"), col("nsplits")))

  /** DuckDB twin of [[subSplit]] against the `sizes` CTE: `name` (the rows
    * of `from`, filtered by `where`, with their split count `ns`) and
    * `{name}x` (with the three digits). */
  private def subSplitSql(name: String, from: String, where: String): String =
    s"""$name AS (
       |  SELECT $from.*, CAST(ceil(cellN / $CellCap.0) AS BIGINT) AS ns
       |  FROM $from JOIN sizes USING (label)$where),
       |${name}x AS (
       |  SELECT *, vec_id % ns AS sub, (vec_id // ns) % ns AS subb,
       |         (vec_id // ns // ns) % ns AS subc FROM $name)""".stripMargin

  /** The three capped rounds between a query-side and a candidate-side
    * sub-split frame: each an equi-join on (label, digit), later rounds
    * mismatch-gated so the union is disjoint. */
  private def cappedRounds(qs: DataFrame, cs: DataFrame): DataFrame = {
    def round(cond: Column) =
      qs.as("q").join(cs.as("c"), cond)
        .select(col("q.vec_id").as("qid"), col("c.vec_id").as("cand_id"),
          pairCos)
    val r1 = round(col("q.label") === col("c.label") &&
      col("q.sub") === col("c.sub") && col("q.vec_id") =!= col("c.vec_id"))
    val r2 = round(col("q.label") === col("c.label") &&
      col("q.subb") === col("c.subb") && col("q.sub") =!= col("c.sub") &&
      col("q.vec_id") =!= col("c.vec_id"))
    val r3 = round(col("q.label") === col("c.label") &&
      col("q.subc") === col("c.subc") && col("q.sub") =!= col("c.sub") &&
      col("q.subb") =!= col("c.subb") && col("q.vec_id") =!= col("c.vec_id"))
    r1.union(r2).union(r3)
  }

  /** Each qid's 3 best `pairs` rows as (qid, cand_id, cos), ranked by
    * [[byCos]] with the INT rank dropped — the stored edge set that
    * incremental maintenance carries between batches and the navigable
    * graph pins. */
  private def storedTop3(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("rank", row_number().over(byCos))
      .filter(col("rank") <= 3)
      .select("qid", "cand_id", "cos")

  /** Shared candidate generator of the capped build: (qid, cand_id, cos)
    * pairs from all three sub-split rounds, exactly as priced by
    * ann_recall_knn_capped_vs_exact. Used verbatim by the
    * ann_knn_graph_capped carrier and the pinned [[knnEdges]] artifact,
    * so the graph the greedy arms navigate IS the graph the recall gate
    * prices. */
  private def cappedPairCandidates(e: DataFrame): DataFrame = {
    val s = subSplit(e, census(e))
    cappedRounds(s, s)
  }

  /** The three capped-round branches between SQL tables `qt` (query
    * side) and `ct` (candidate side), both pre-annotated with
    * sub/subb/subc — the [[cappedRounds]] twin. */
  private def cappedCandBranchesSql(qidCol: String, qt: String, ct: String): String = {
    def round(cond: String) = pairsSql(s"$qt q JOIN $ct c ON q.label = c.label AND $cond", qidCol)
    s"""${round("q.sub = c.sub AND q.vec_id != c.vec_id")}
        UNION ALL
        ${round("q.subb = c.subb AND q.sub != c.sub AND q.vec_id != c.vec_id")}
        UNION ALL
        ${round("q.subc = c.subc AND q.sub != c.sub AND q.subb != c.subb AND q.vec_id != c.vec_id")}"""
  }

  /** DuckDB twin of [[cappedPairCandidates]]: sizes / three-round
    * sub-split / candidate-pair CTEs (expects a prior `e` CTE exposing vec_id,
    * label, embedding, nrm). `qidCol` names the pair's source column
    * ("qid" for the graph carriers, "node" for the batch-search twin). */
  private def cappedCandSqlCtes(qidCol: String): String =
    s"""${sizesSql("e")},
      ${subSplitSql("sub", "e", "")},
      cand AS (
        ${cappedCandBranchesSql(qidCol, "subx", "subx")})"""

  /** [[cappedCandSqlCtes]] plus the top-3 edge ranking — the full edge
    * set the greedy-search twins navigate. */
  private def cappedEdgesSqlCtes(qidCol: String): String =
    s"""${cappedCandSqlCtes(qidCol)},
      ${topkCteSql("edges", "cand", 3, key = qidCol, cols = s"$qidCol, cand_id")}"""

  /** Cell-capped k-NN graph: cells larger than Cap=16 are split into
    * ceil(cellN/16) deterministic sub-cells and neighbors are ranked
    * within the SUB-cell — the hot-cell defense the graph build needs at
    * 100 TB, where one over-dense IVF cell would otherwise cost O(cell²)
    * alone (the ANN twin of the dedup family's df cap). Approximate by
    * construction; the recall gate below prices the approximation the
    * way int8/multiprobe are priced.
    *
    * THREE independent sub-split rounds since r15 (r14 verdict item 2:
    * one round left edge recall at a 0.273 floor — each true neighbor
    * had only a ~1/nsplits chance of landing in the query's sub-cell).
    * The rounds group by the first three base-nsplits digits of vec_id
    * (id mod n, (id div n) mod n, (id div n²) mod n) — within a cell the
    * groupings are independent, so the candidate pool roughly triples
    * while every pair generator stays a capped keyed equi-join. Later
    * rounds require an earlier-round MISMATCH, making the three pair
    * sets disjoint by construction: the union needs no dedup shuffle.
    * Measured at sf0.01: 0.273 → 0.472 (two rounds) → 0.625 (three).
    */
  val knnGraphCapped: QueryDef = QueryDef(
    "ann_knn_graph_capped",
    (s, dir) => topByCos(cappedPairCandidates(index(s, dir)), 3).orderBy("qid", "rank"),
    Some(s"""
      WITH $eCteSql,
      ${cappedCandSqlCtes("qid")},
      ${rankedTopkSql("cand", 3)}
    """.stripMargin.trim))

  /** Per-label centroid frame (label, pos, cx). Means use the decimal-
    * sum discipline ([[kmeansTrain]]'s `update`): DECIMAL(20,10) sums,
    * one final IEEE division — any residual engine tie in the 12th
    * digit is absorbed because centroids only feed the adjacency ARGMAX
    * below, whose margins are orders of magnitude wider. */
  private def labelCentroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg((sum(col("x").cast("double").cast("decimal(20,10)")).cast("double")
        / count(lit(1))).as("cx"))

  /** Nearest-other-cells adjacency (label → top-`a` blabel by centroid
    * cosine, blabel ASC tiebreak) — the |cells|²-pair frame every IVF
    * deployment already owns (its multiprobe neighbor ranking); bounded
    * by the centroid count, never the corpus. Ranking by dot/|b| is
    * ranking by cosine: |a| is constant within each label's partition. */
  private def cellAdjacency(e: DataFrame, a: Int): DataFrame = {
    val cent = labelCentroids(e)
    val cnorm = cent.groupBy("label")
      .agg(sqrt(sum(col("cx") * col("cx"))).as("cn"))
    val wl = Window.partitionBy("label").orderBy(desc("sim"), asc("blabel"))
    cent.as("a").join(cent.as("b"),
        col("a.pos") === col("b.pos") && col("a.label") =!= col("b.label"))
      .groupBy(col("a.label").as("label"), col("b.label").as("blabel"))
      .agg(sum(col("a.cx") * col("b.cx")).as("dot"))
      .join(cnorm.select(col("label").as("blabel"), col("cn").as("bn")), "blabel")
      .withColumn("sim", col("dot") / col("bn"))
      .withColumn("rn", row_number().over(wl))
      .filter(col("rn") <= a)
      .select("label", "blabel")
  }

  /** Adjacent cells per node for the navigable graph (top-A centroid
    * neighbors — r16 verdict item 1: rank-1-only gave the walk a
    * single-cell escape radius and global recall stalled at 4/30).
    * Chosen by a sweep at sf0.01 (DESIGN.md r17):
    * (A, kPerCell) = (4, 3) measured global 10/30 / quality 0.907 —
    * the sweep's peak; wider configs plateaued or fell. Per-node edge
    * budget = 3 intra + A·kPerCell = 15, NSW-typical. */
  private[operators] val CrossA = 4

  /** Cross-cell edges per (node, adjacent cell): top-[[CrossKPerCell]]
    * by cosine WITHIN each adjacent cell, not top-k overall — one
    * escape hatch into EACH of the A nearest cells is worth more to a
    * navigating walk than k parallel edges into the nearest one (the
    * NSW/HNSW neighbor-diversity idea, PAPERS.md). */
  private[operators] val CrossKPerCell = 3

  /** Declared navigation dials, folded from the r17 measured laws
    * (DESIGN.md r17 §2 → r18 fold):
    *
    *  - HOP BUDGET: the walk converges by hop 5 at BOTH measured corpus
    *    sizes (sf0.01: global 10→11/30, top1 3→4/10, quality
    *    0.907→0.936 at hop 5, then hops 7/9 bit-identical; sf0.1 the
    *    same shape) — so the declared budget is [[NavHops]] = 5, the
    *    graph-local optimum of a B-wide beam.
    *  - BEAM WIDTH is the corpus-aware dial: B=3 is the measured
    *    optimum at the 500-vector sf0.01 corpus, and at the 4× corpus
    *    (2,000 vectors, sf0.1) B=12 restores exactly the recall/
    *    quality B=3 has at sf0.01 (global 10/30, quality 0.907 — the
    *    HNSW ef-scaling law reproduced: recall at a bigger corpus is
    *    bought with beam width). Hop cost is Q·B·k edge fetches +
    *    Q·B·k point fetches — linear in B and corpus-INdependent, so
    *    the dial preserves the scan-free property; the threshold sits
    *    between the two measured corpus sizes.
    *
    * Both engines dial identically: the Spark side counts the pinned
    * index once at plan time, the DuckDB twin computes the same CASE
    * over COUNT(*) in its `dial` CTE ([[navDialSqlCte]]). */
  private[operators] val NavHops = 5
  private[operators] val NavBeamSmall = 3
  private[operators] val NavBeamLarge = 12
  private[operators] val NavSmallCorpusMax = 1000L
  private[operators] def navBeam(corpusN: Long): Int =
    if (corpusN <= NavSmallCorpusMax) NavBeamSmall else NavBeamLarge

  /** The beam dial as a DuckDB CTE — the twin of [[navBeam]] over the
    * same corpus (expects the `e` CTE). Referenced as a scalar subquery
    * `(SELECT b FROM dial)` wherever the Spark side uses the dialed B. */
  private def navDialSqlCte: String =
    s"""dial AS (SELECT CASE WHEN (SELECT COUNT(*) FROM e) <= $NavSmallCorpusMax
            THEN $NavBeamSmall ELSE $NavBeamLarge END AS b)"""

  /** Cosine of each `e` row against the single query `qv` (qe, qn). */
  private lazy val queryCosSql = s"${dotSql("e.embedding", "qv.qe")} / (e.nrm * qv.qn)"

  /** One single-query hop of the DuckDB greedy-walk twin: expand the
    * previous beam's nav_edges neighbors (plus the beam itself), score
    * exactly against the query vector `qv`, keep the dialed-B best. */
  private def greedySingleHopSql(prev: String, n: String, b: String): String = s"""
      $n AS (SELECT DISTINCT cand_id AS vec_id FROM nav_edges JOIN $prev ON nav_edges.qid = $prev.vec_id
             UNION SELECT vec_id FROM $prev),
      $b AS (
        SELECT vec_id, cos FROM (
          SELECT t.vec_id, t.cos,
                 ROW_NUMBER() OVER (ORDER BY t.cos DESC, t.vec_id ASC) AS rn
          FROM (
            SELECT e.vec_id,
                   $queryCosSql AS cos
            FROM e JOIN $n USING (vec_id) CROSS JOIN qv
            WHERE e.vec_id != 1) t) u
        WHERE rn <= (SELECT b FROM dial))"""

  /** Cross-cell candidate pairs: each node against the members of its
    * top-[[CrossA]] ADJACENT cells (nearest-centroid other cells) that
    * share the node's sub-cell digit under each adjacent cell's own
    * split grid — the same CellCap bound as the intra-cell rounds, so
    * per-node candidates stay ≤ ~CrossA·CellCap at any corpus size and
    * the generator remains a keyed equi-join on (blabel, digit). Output
    * carries `blabel` so edge selection can rank per adjacent cell. */
  private def crossCellCandidates(e: DataFrame): DataFrame = {
    val sizes = census(e)
    val adj = cellAdjacency(e, CrossA)
    val bmeta = sizes.select(col("label").as("blabel"),
      ceil(col("cellN") / lit(CellCap.toDouble)).cast("long").as("bns"))
    val qside = e.join(broadcast(adj), "label")
      .join(broadcast(bmeta), "blabel")
      .withColumn("qsub", pmod(col("vec_id"), col("bns")))
    val cside = subSplit(e, sizes)
    qside.as("q").join(cside.as("c"),
        col("q.blabel") === col("c.label") && col("q.qsub") === col("c.sub"))
      .select(col("q.vec_id").as("qid"), col("q.blabel").as("blabel"),
        col("c.vec_id").as("cand_id"),
        pairCos)
  }

  /** The selected cross-cell edge set: top-[[CrossKPerCell]] per (node,
    * adjacent cell) over the candidates — ≤ CrossA·CrossKPerCell edges
    * per node, each batch of CrossKPerCell landing in a DIFFERENT cell. */
  private def crossCellEdges(e: DataFrame): DataFrame = {
    val wpc = Window.partitionBy("qid", "blabel").orderBy(desc("cos"), asc("cand_id"))
    crossCellCandidates(e)
      .withColumn("rnc", row_number().over(wpc))
      .filter(col("rnc") <= CrossKPerCell)
      .select("qid", "blabel", "cand_id", "cos")
  }

  /** DuckDB twin of [[crossCellCandidates]] + the per-adjacent-cell
    * top-[[CrossKPerCell]] edge ranking. Expects the `e` CTE plus
    * [[cappedCandSqlCtes]]'s `sizes` and `subx` (the candidate-side
    * sub-split); unreferenced CTEs of that block (e.g. `cand`) are
    * never evaluated by DuckDB. */
  private def crossCellSqlCtes(qidCol: String): String =
    s"""cent AS (
        SELECT label, CAST(t.i AS INT) AS pos,
               CAST(SUM(CAST(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS cx
        FROM e CROSS JOIN generate_series(1, $Dim) t(i)
        GROUP BY 1, 2),
      cnorm AS (SELECT label, sqrt(SUM(cx * cx)) AS cn FROM cent GROUP BY 1),
      adj AS (
        SELECT label, blabel FROM (
          SELECT p.label, p.blabel,
                 ROW_NUMBER() OVER (PARTITION BY p.label
                   ORDER BY p.dot / n.cn DESC, p.blabel ASC) AS rn
          FROM (
            SELECT a.label AS label, b.label AS blabel, SUM(a.cx * b.cx) AS dot
            FROM cent a JOIN cent b ON a.pos = b.pos AND a.label != b.label
            GROUP BY 1, 2) p
          JOIN cnorm n ON p.blabel = n.label) t
        WHERE rn <= $CrossA),
      xq AS (
        SELECT e.*, adj.blabel,
               CAST(ceil(bs.cellN / $CellCap.0) AS BIGINT) AS bns
        FROM e JOIN adj USING (label) JOIN sizes bs ON bs.label = adj.blabel),
      xqs AS (SELECT *, vec_id % bns AS qsub FROM xq),
      xcand AS (
        SELECT q.vec_id AS $qidCol, q.blabel AS blabel, c.vec_id AS cand_id, ${cosSql("q", "c")} AS cos
        FROM xqs q JOIN subx c ON q.blabel = c.label AND q.qsub = c.sub),
      ${topkCteSql("xedges", "xcand", CrossKPerCell, key = s"$qidCol, blabel",
          cols = s"$qidCol, cand_id")}"""

  /** The NAVIGABLE edge set's SQL twin: capped intra-cell top-3 UNION
    * cross-cell top-[[CrossK]] (disjoint by construction — cross edges
    * land in a different label). This is what the greedy-search twins
    * walk; [[cappedEdgesSqlCtes]] stays the intra-cell-only set the
    * build recall gate prices. */
  private def navEdgesSqlCtes(qidCol: String): String =
    s"""${cappedEdgesSqlCtes(qidCol)},
      ${crossCellSqlCtes(qidCol)},
      nav_edges AS (
        SELECT $qidCol, cand_id FROM edges
        UNION ALL
        SELECT $qidCol, cand_id FROM xedges)"""

  /** Cross-cell edge layer AS A QUERY — the navigable graph's
    * long-range links (r15 verdict item 2: a greedy walk over the
    * intra-cell capped graph could never leave its entry cell — unlike
    * NSW/HNSW, whose long-range links are the point of a navigable
    * graph). Each node gets its top-[[CrossKPerCell]] cosine neighbors
    * among the digit-matched members of EACH of its top-[[CrossA]]
    * nearest-centroid adjacent cells (r16 verdict item 1: rank-1-only
    * adjacency gave the walk a one-cell escape radius — global recall
    * 4/30; per-cell selection spends the edge budget on cell DIVERSITY,
    * the NSW/HNSW neighbor-diversity idea). The walk can escape the
    * coarse quantizer's pruning by up to [[CrossA]] cells per visited
    * node; the recall gate's global column is floor-pinned in
    * Round17Spec. Scale shape: one |cells|² centroid-adjacency frame
    * (bounded by the quantizer, not the corpus) + one keyed equi-join
    * on (adjacent label, sub-digit) with per-node candidates
    * ≤ ~CrossA·CellCap — the same O(corpus · CellCap) pair volume
    * class as one capped build round.
    */
  val knnGraphCrossCell: QueryDef = QueryDef(
    "ann_knn_graph_crosscell",
    (s, dir) =>
      crossCellEdges(index(s, dir))
        .withColumn("rank", row_number().over(byCos).cast("long"))
        .select("qid", "rank", "cand_id", "cos")
        .orderBy("qid", "rank"),
    Some(s"""
      WITH $eCteSql,
      ${cappedCandSqlCtes("qid")},
      ${crossCellSqlCtes("qid")},
      ${topkCteSql("xsel", "xcand", CrossKPerCell, key = "qid, blabel",
          cols = "qid, blabel, cand_id, cos", out = "qid, cand_id, cos")}
      SELECT qid,
             CAST(${cosRankSql()} AS BIGINT) AS rank,
             cand_id, cos
      FROM xsel
      ORDER BY qid, rank
    """.stripMargin.trim))

  /** Edge recall of the cell-capped graph vs the exact cell-scoped
    * graph — the dial that says what the hot-cell defense costs, next
    * to the ones already priced (int8 recall, multiprobe recall).
    * The exact reference arm is [[knnGraph]], whose query side carries
    * the [[AuditGuard]]: above 4k corpus rows the gate prices a
    * deterministic ~2k-qid systematic sample (each sampled qid's edges
    * still exact), so the PRICER itself stays O(keep · cell) instead of
    * the unguarded O(Σ cell²) the r15 decade sweep measured at 1.84.
    */
  val recallKnnCapped: QueryDef = QueryDef(
    "ann_recall_knn_capped_vs_exact",
    (s, dir) => {
      val ex = knnGraph.run(s, dir).select("qid", "cand_id")
      val cp = knnGraphCapped.run(s, dir)
        .select(col("qid").as("cq"), col("cand_id").as("cc"))
        .withColumn("hit", lit(1L))
      ex.join(cp, col("qid") === col("cq") && col("cand_id") === col("cc"), "left")
        .agg(count(lit(1)).as("n_exact_edges"),
          sum(coalesce(col("hit"), lit(0L))).as("n_retained"))
        .select(col("n_exact_edges"), col("n_retained"),
          (col("n_retained").cast("double") / col("n_exact_edges")).as("recall"))
    },
    Some(s"""
      WITH $eCteSql,
      exact_scored AS (
        $cellPairsSql),
      ${topkCteSql("exact_edges", "exact_scored", 3)},
      ${cappedEdgesSqlCtes("qid")}
      SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_edges,
             CAST(SUM(CASE WHEN c.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN c.qid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall
      FROM exact_edges x
      LEFT JOIN edges c ON x.qid = c.qid AND x.cand_id = c.cand_id
    """.stripMargin.trim))

  /** IVF coarse-quantizer TRAINING — the step every other IVF query
    * assumes done (their `label` comes precomputed): Lloyd's k-means as
    * unrolled keyed stages, bit-reproducible across engines so the
    * trained quantizer is a deterministic artifact, not a seed lottery.
    *
    *  - seeding: the k=8 vectors with the smallest md5(vec_id)
    *    ([[TwoStageOrder.kSmallestRows]] — hash-uniform, orderless,
    *    reproducible at any parallelism); cid = rank under the hash.
    *  - assign: vector × broadcast 8-row centroid frame, squared-L2 by
    *    the index-ordered left fold both engines share (`aggregate`/
    *    `zip_with` vs `list_reduce`), argmin = min(struct(dist2, cid))
    *    with cid tiebreak.
    *  - update: per-dimension mean under the centroid discipline
    *    (DECIMAL(20,10) sums, one final IEEE division). The elementwise
    *    double→decimal cast CAN tie differently across engines (Spark
    *    HALF_UP vs DuckDB HALF_EVEN — live sighting at
    *    ann_embedding_dim_drift dim 33), but here a 1e-10 centroid
    *    shift is absorbed: means only feed dist2 → FLOOR(·1e6), which
    *    changes only if a distance sits within ~1e-10 of a floor
    *    boundary. Queries that EXPORT such a mean directly must use
    *    the Σ⌊x·10¹⁰⌋ integer-moment form instead (CurationOps).
    *
    * Two full update rounds + a final assignment; output is the
    * per-cluster census (size, integer-micro inertia) — the artifact
    * that decides whether the quantizer is balanced enough to ship.
    * Scale shape: each round is one broadcast nested-loop over k=8
    * centroids (map-side) + two keyed aggs; nothing is ever ranked
    * globally and the only iteration state is the 8-row centroid frame.
    */
  val kmeansTrain: QueryDef = QueryDef(
    "ann_ivf_kmeans_train",
    (s, dir) => {
      val kC = 8
      val vecs = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .localCheckpoint(true) // seed pass + three assignment passes
      val seeds = TwoStageOrder.kSmallestRows(
          vecs.select(md5(col("vec_id").cast("string").cast("binary")).as("h"),
            col("vec_id"), col("v")), "h", kC)
        // rank over the k=8-row seed frame (bounded by construction)
        .withColumn("cid", row_number().over(Window.orderBy(asc("h"))).cast("long"))
        .select(col("cid"), col("v").as("c"))
      // The k-row centroid frame collapses to ONE row (cid-sorted struct
      // array) so assignment is a pure MAP-SIDE fold (r18, guide §2.4):
      // array_min over per-centroid (dist2, cid) structs IS the previous
      // min(struct(dist2, cid)) groupBy — lexicographic struct ordering,
      // same dist2 expression, bit-identical doubles — minus the k×n-row
      // explosion and its groupBy(vec_id) shuffle per Lloyd pass; update
      // reads v straight off the assignment (the join-back to vecs is
      // gone). Per pass the only exchange left is the 8×Dim-cell
      // (cid, pos) aggregation, map-side combinable. 2.5 → 2.0 s at
      // sf0.1; at corpus scale assignment is embarrassingly parallel.
      def centsRow(cents: DataFrame): DataFrame =
        cents.agg(sort_array(collect_list(struct(col("cid"), col("c")))).as("cs"))
      def assign(cr: DataFrame): DataFrame =
        vecs.crossJoin(broadcast(cr))
          .withColumn("m", expr(
            s"array_min(transform(cs, s -> struct(${dist2("v", "s.c")} AS dist2, s.cid AS cid)))"))
          .select(col("vec_id"), col("m.cid").as("cid"),
            col("m.dist2").as("dist2"), col("v"))
      def update(assigned: DataFrame): DataFrame =
        assigned
          .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cid", "pos")
          .agg((sum(col("x").cast("decimal(20,10)")).cast("double") / count(lit(1)))
            .as("cx"))
          .groupBy("cid")
          .agg(expr("transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)")
            .as("c"))
      val c1 = centsRow(update(assign(centsRow(seeds))))
      val c2 = centsRow(update(assign(c1)))
      assign(c2)
        .groupBy("cid")
        .agg(count(lit(1)).as("n_vectors"),
          // Σ ⌊dist2·10⁶⌋: FLOOR of a bit-identical double is exact on
          // both engines, where a double→DECIMAL cast exposed the two
          // engines' different rounding rules in the 12th digit
          sum(expr("CAST(FLOOR(dist2 * 1000000.0D) AS BIGINT)")).as("inertia_e6"))
        .select(col("cid").as("cluster"), col("n_vectors"), col("inertia_e6"))
        .orderBy("cluster")
    },
    Some(s"""
      WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      seeds AS (
        SELECT cid, v AS c FROM (
          SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cid, v
          FROM v) s
        WHERE cid <= 8),
      ${kmAssignDuck("a1", "seeds")},
      c1 AS (${kmUpdateDuck("a1")}),
      ${kmAssignDuck("a2", "c1")},
      c2 AS (${kmUpdateDuck("a2")}),
      ${kmAssignDuck("a3", "c2")}
      SELECT cid AS cluster, COUNT(*) AS n_vectors,
             CAST(SUM(CAST(FLOOR(dist2 * 1000000.0) AS BIGINT)) AS BIGINT) AS inertia_e6
      FROM a3
      GROUP BY cid
      ORDER BY cluster
    """.stripMargin.trim))

  /** DuckDB twins of the trainer's two kernels: the CTE `name`, each
    * vector's nearest centroid of `cents` by ([[dist2Duck]], cid), and the
    * decimal-mean update over an assignment `a`. */
  private def kmAssignDuck(name: String, cents: String): String =
    s"""$name AS (
       |        SELECT vec_id, cid, dist2 FROM (
       |          SELECT vv.vec_id, s.cid, ${dist2Duck("vv.v", "s.c", Dim)} AS dist2,
       |                 ROW_NUMBER() OVER (PARTITION BY vv.vec_id
       |                   ORDER BY ${dist2Duck("vv.v", "s.c", Dim)}, s.cid) AS rn
       |          FROM v vv CROSS JOIN $cents s) d
       |        WHERE rn = 1)""".stripMargin
  private def kmUpdateDuck(a: String): String =
    s"""SELECT cid, list(cx ORDER BY pos) AS c FROM (
       |          SELECT $a.cid, CAST(i.range AS INT) + 1 AS pos,
       |                 CAST(SUM(CAST(v.v[CAST(i.range AS INT) + 1] AS DECIMAL(20,10))) AS DOUBLE)
       |                   / COUNT(*) AS cx
       |          FROM $a JOIN v USING (vec_id) CROSS JOIN range(0, $Dim) i
       |          GROUP BY 1, 2) m
       |        GROUP BY cid""".stripMargin

  /** Squared-L2 distance of two double arrays, folded index-ordered — the
    * one distance of the trainers and probes; [[dist2E6]] is its
    * FLOOR(·10⁶) integer, [[dist2Duck]] its DuckDB twin. */
  private def dist2(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0.0D, (a, b) -> a + b)"
  private def dist2E6(a: String, b: String): String =
    s"CAST(FLOOR(${dist2(a, b)} * 1000000.0D) AS BIGINT)"

  /** DuckDB twin of [[dist2]] over the first `len` elements. */
  private def dist2Duck(v: String, c: String, len: Int): String =
    s"""list_reduce(list_transform(generate_series(1, $len),
       |              i -> ($v[CAST(i AS INT)] - $c[CAST(i AS INT)])
       |                   * ($v[CAST(i AS INT)] - $c[CAST(i AS INT)])),
       |            (a, b) -> a + b)""".stripMargin

  // ---- shared level-1 PQ8x4 training -------------------------------------

  /** PQ layout constants: M subspaces × SD dims, KC centroids/subspace. */
  private val PqM = 8; private val PqSD = 8; private val PqKC = 16

  /** The trained level-1 artifact: full vectors, subspace slices, the
    * content-hash seed frame, the one-Lloyd-pass codebooks, the encoded
    * assignments, and the per-subspace residuals. */
  private final case class PqLevel1(
    vecs: DataFrame, sub: DataFrame, seeds: DataFrame, cb1: DataFrame,
    codes: DataFrame, res: DataFrame)

  /** Keyed subspace assignment: each (vec_id, s) slice against its
    * subspace's broadcast ≤KC-row codebook, argmin by (dist2, cid). */
  /** Nearest-codeword assignment, MAP-SIDE (r18, the [[kmeansTrain]]
    * fusion per subspace): the ≤K·M-row codebook collapses to one
    * cid-sorted struct array per subspace (an M-row broadcast), and
    * array_min over per-codeword (dist2, cid) structs IS the previous
    * min(struct(dist2, cid)) groupBy — lexicographic struct ordering,
    * identical dist2 fold, bit-identical doubles — minus the K×
    * row explosion and its groupBy(vec_id, s) shuffle per pass. The
    * output CARRIES `vcol` so the update / residual / encode consumers
    * read it directly instead of joining back to the data. */
  private def pqAssign(data: DataFrame, vcol: String, cb: DataFrame): DataFrame =
    data.join(broadcast(cb.groupBy("s")
        .agg(sort_array(collect_list(struct(col("cid"), col("c")))).as("__cs"))), "s")
      .withColumn("__m", expr(
        s"array_min(transform(__cs, t -> struct(${dist2(vcol, "t.c")} AS dist2, t.cid AS cid)))"))
      .select(data.columns.map(col) :+ col("__m.cid").as("cid"): _*)

  /** Per-(subspace, centroid, dim) decimal-mean codebook update — the
    * [[kmeansTrain]] centroid discipline per subspace. `assigned` is a
    * [[pqAssign]] output and carries the vector column itself. */
  private def pqUpdate(assigned: DataFrame, vcol: String): DataFrame =
    assigned
      .select(col("s"), col("cid"), posexplode(col(vcol)).as(Seq("pos", "x")))
      .groupBy("s", "cid", "pos")
      .agg((sum(col("x").cast("decimal(20,10)")).cast("double") / count(lit(1)))
        .as("cx"))
      .groupBy("s", "cid")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cx))), t -> t.cx)")
        .as("c"))

  private val pqL1Cache = new graft.SessionCache[PqLevel1]

  /** DuckDB twin of [[pqAssign]]: `name` (vec_id, s, cid), each (vec_id,
    * s) row of `data` given its nearest `cb` codeword by (distance of
    * `vcol`, cid). */
  private def pqAssignSql(name: String, data: String, vcol: String, cb: String): String =
    s"""$name AS (
       |  SELECT vec_id, s, cid FROM (
       |    SELECT $data.vec_id, $data.s, $cb.cid,
       |           ROW_NUMBER() OVER (PARTITION BY $data.vec_id, $data.s
       |             ORDER BY ${dist2Duck(s"$data.$vcol", s"$cb.c", PqSD)}, $cb.cid) AS rn
       |    FROM $data JOIN $cb USING (s)) t WHERE rn = 1)""".stripMargin

  /** DuckDB twin of [[pqUpdate]]: `name` (s, cid, c), the decimal-mean
    * codebook of the `vcol` slices of `data` under the assignment `a`. */
  private def pqUpdateSql(name: String, a: String, data: String, vcol: String): String =
    s"""$name AS (
       |  SELECT s, cid, list(cx ORDER BY pos) AS c FROM (
       |    SELECT $a.s, $a.cid, CAST(i.range AS INT) + 1 AS pos,
       |           CAST(SUM(CAST($data.$vcol[CAST(i.range AS INT) + 1] AS DECIMAL(20,10))) AS DOUBLE)
       |             / COUNT(*) AS cx
       |    FROM $a JOIN $data USING (vec_id, s) CROSS JOIN range(0, $PqSD) i
       |    GROUP BY 1, 2, 3) m GROUP BY s, cid)""".stripMargin

  /** DuckDB twin of [[pqLevel1]] up to its codes: `v`, the subspace slices
    * `sub`, the hash `seeds` (carrying `seedCols`), `cb0`, `a0`, the
    * one-Lloyd-pass `cb1` and the level-1 assignment `codes`. */
  private def pqLevel1Sql(seedCols: String, codes: String): String =
    s"""v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      sub AS (
        SELECT vec_id, CAST(m.range AS INT) AS s,
               list_slice(v, CAST(m.range AS INT) * 8 + 1, CAST(m.range AS INT) * 8 + 8) AS vs
        FROM v CROSS JOIN range(0, 8) m),
      seeds AS (
        SELECT cid, $seedCols FROM (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS BIGINT) AS cid,
                 $seedCols
          FROM v) t WHERE cid <= 16),
      cb0 AS (
        SELECT CAST(m.range AS INT) AS s, cid,
               list_slice(v, CAST(m.range AS INT) * 8 + 1, CAST(m.range AS INT) * 8 + 8) AS c
        FROM seeds CROSS JOIN range(0, 8) m),
      ${pqAssignSql("a0", "sub", "vs", "cb0")},
      ${pqUpdateSql("cb1", "a0", "sub", "vs")},
      ${pqAssignSql(codes, "sub", "vs", "cb1")}"""

  /** Level-1 PQ training, done ONCE per (session, corpus) and pinned —
    * [[pqAdcTopk]] and [[rqReconGain]] train IDENTICAL level-1 codebooks
    * from the same seed-hash recipe, so before r13 the RQ query re-paid
    * the two level-1 Lloyd passes the PQ query had already run (r12
    * verdict item 4). Same amortization a deployed PQ service does:
    * train offline once, every encoder/prober reads the artifact. The
    * pinned frames are exactly what both queries previously checkpointed
    * per-query; results and oracle hashes are unchanged.
    */
  private def pqLevel1(s: SparkSession, dir: String): PqLevel1 =
    pqL1Cache.getOrElseUpdate(s, dir) {
      graft.PinnedStorage.pin(s) {
        val vecs = Tables.embeddings(s, dir)
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .localCheckpoint(true) // seeds + subspace explode + exact arms
        val sub = vecs.select(col("vec_id"), explode(array((0 until PqM).map(m =>
            struct(lit(m).as("s"), slice(col("v"), m * PqSD + 1, PqSD).as("vs"))): _*)).as("e"))
          .select(col("vec_id"), col("e.s").as("s"), col("e.vs").as("vs"))
          .localCheckpoint(true) // level-1 assign ×2 + update + downstream encodes
        val seeds = TwoStageOrder.kSmallestRows(
            vecs.select(md5(col("vec_id").cast("string").cast("binary")).as("h"),
              col("vec_id"), col("v")), "h", PqKC)
          // rank over the K=16-row seed frame (bounded by construction)
          .withColumn("cid", row_number().over(Window.orderBy(asc("h"))).cast("long"))
          .localCheckpoint(true) // level-1 cb0 + RQ's level-2 seed join
        val cb0 = seeds.select(col("cid"), explode(array((0 until PqM).map(m =>
            struct(lit(m).as("s"), slice(col("v"), m * PqSD + 1, PqSD).as("c"))): _*)).as("e"))
          .select(col("e.s").as("s"), col("cid"), col("e.c").as("c"))
        val cb1 = pqUpdate(pqAssign(sub, "vs", cb0), "vs")
          .localCheckpoint(true) // encode pass + distance table + residual build
        // the assignment fold (16 codewords × every subspace row) runs
        // ONCE into the slim checkpoint; res re-attaches vs through the
        // pinned sub instead of re-evaluating the fold (the first r18
        // cut derived codes and res from the un-checkpointed assignment
        // and paid the fold twice — visible as an in-suite rq bump)
        val codes = pqAssign(sub, "vs", cb1).select("vec_id", "s", "cid")
          .localCheckpoint(true) // PQ's ADC scan + RQ's residual build
        val res = codes.join(sub, Seq("vec_id", "s"))
          .join(broadcast(cb1), Seq("s", "cid"))
          .select(col("vec_id"), col("s"),
            expr("zip_with(vs, c, (x, y) -> x - y)").as("r"))
          .localCheckpoint(true) // RQ level-2 seeds + assign ×2 + update + errors
        PqLevel1(vecs, sub, seeds, cb1, codes, res)
      }
    }

  /** Product quantization with asymmetric-distance (ADC) shortlist +
    * exact re-rank — the memory-compressed ANN arm: the 64-dim space
    * splits into M=8 8-dim subspaces, each with its own K=16-centroid
    * codebook (seeded by content hash, one Lloyd pass — the
    * [[kmeansTrain]] recipe per subspace), every vector compresses to
    * 8 four-bit codes (the classic PQ8x4 layout), and a query scans CODES ONLY: its
    * per-subspace distance table (M·K = 128 cells) is broadcast and the
    * approximate distance is Σₛ table[s][code(v,s)] — a 128-row
    * broadcast-hash join + keyed sum instead of any float vector math
    * on the corpus. The ADC scan emits a SHORTLIST of R=100 candidates;
    * the final top-10 re-ranks the shortlist by EXACT distance over the
    * R fetched full vectors (Jégou §VII re-ranking — "IVFADC+R"): on
    * these near-noise synthetic embeddings the raw 4-bit ADC order
    * only places 2 of the exact top-10 in its top-10 (the quantization
    * error ≈ the whole spread between the 1st neighbor and the median
    * — replicated in numpy), but 8/10 survive into the R=100 shortlist
    * at bench scale, so the re-ranked result recovers them. The output
    * still carries the exact distance and an exact-top-10 membership
    * flag per returned row, so the recall of the compressed scan stays
    * part of the checked result (7/10 at the sf0.01 oracle gate).
    *
    * At 100 TB: the corpus side holds 4 bytes/vector (a 64× memory
    * reduction at this dim), the scan is pure integer joins, and the
    * re-rank fetches exactly R=100 full vectors through a broadcast
    * semi-fetch — point lookups, not a second scan. Train and encode
    * are the same keyed/broadcast shapes as the IVF arm. Every summed
    * double is FLOOR(·1e6)-quantized BEFORE the sum (associative
    * integer addition — the [[kmeansTrain]] exactness discipline), so
    * both engines order identically.
    *
    * Public-knowledge provenance: Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI 2011 (the
    * ADC variant, §VII re-ranking).
    */
  val pqAdcTopk: QueryDef = QueryDef(
    "ann_pq_adc_topk",
    (s, dir) => {
      val QID = 1L; val TOPK = 10
      val R = 100 // ADC shortlist size fed to the exact re-rank
      val l1 = pqLevel1(s, dir)
      val vecs = l1.vecs; val sub = l1.sub; val cb1 = l1.cb1
      val codes = l1.codes
      val qsub = sub.filter(col("vec_id") === QID).select(col("s"), col("vs").as("qs"))
      val dtab = cb1.join(broadcast(qsub), "s")
        .withColumn("d", expr(dist2("qs", "c")))
        .select(col("s"), col("cid"), col("d"))
      val shortlist = codes.filter(col("vec_id") =!= QID)
        .join(broadcast(dtab), Seq("s", "cid"))
        .groupBy("vec_id")
        .agg(sum(expr("CAST(FLOOR(d * 1000000.0D) AS BIGINT)")).as("adc_e6"))
        .orderBy(asc("adc_e6"), asc("vec_id")).limit(R)
      val qfull = vecs.filter(col("vec_id") === QID).select(col("v").as("q"))
      // exact re-rank of the R shortlisted vectors: fetch their FULL
      // vectors through a broadcast semi-fetch (R point lookups at any
      // corpus size, never a second scan) and keep the exact top-10
      val rerank = vecs.join(broadcast(shortlist), "vec_id")
        .crossJoin(broadcast(qfull))
        .withColumn("exact_e6", expr(dist2E6("v", "q")))
        .orderBy(asc("exact_e6"), asc("vec_id")).limit(TOPK)
        .select(col("vec_id"), col("adc_e6"), col("exact_e6"))
      // recall audit arm (NOT part of the operator's scale path): the
      // brute-force exact top-10 the membership flag is checked against
      val exact = vecs.filter(col("vec_id") =!= QID).crossJoin(broadcast(qfull))
        .withColumn("exact_e6", expr(dist2E6("v", "q")))
        .select(col("vec_id"), col("exact_e6"))
      val exTop = exact.orderBy(asc("exact_e6"), asc("vec_id")).limit(TOPK)
        .select(col("vec_id").as("evid"))
      rerank
        .join(broadcast(exTop), col("vec_id") === col("evid"), "left")
        .withColumn("in_exact_top10", col("evid").isNotNull)
        // rank over the 10-row TakeOrdered frame (bounded by limit)
        .withColumn("rank",
          row_number().over(Window.orderBy(asc("exact_e6"), asc("vec_id"))).cast("long"))
        .select(col("rank"), col("vec_id"), col("adc_e6"), col("exact_e6"),
          col("in_exact_top10"))
        .orderBy("rank")
    },
    Some(s"""
      WITH ${pqLevel1Sql("v", "codes")},
      qsub AS (SELECT s, vs AS qs FROM sub WHERE vec_id = 1),
      dtab AS (
        SELECT cb1.s, cb1.cid, ${dist2Duck("qsub.qs", "cb1.c", 8)} AS d
        FROM cb1 JOIN qsub USING (s)),
      shortlist AS (
        SELECT vec_id, CAST(SUM(CAST(FLOOR(d * 1000000.0) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM codes JOIN dtab USING (s, cid)
        WHERE vec_id <> 1
        GROUP BY vec_id
        ORDER BY adc_e6, vec_id LIMIT 100),
      qfull AS (SELECT v AS q FROM v WHERE vec_id = 1),
      rerank AS (
        SELECT sl.vec_id, sl.adc_e6,
               CAST(FLOOR(${dist2Duck("v.v", "qfull.q", 64)} * 1000000.0) AS BIGINT) AS exact_e6
        FROM shortlist sl JOIN v USING (vec_id) CROSS JOIN qfull
        ORDER BY exact_e6, vec_id LIMIT 10),
      exact AS (
        SELECT vec_id,
               CAST(FLOOR(${dist2Duck("v.v", "qfull.q", 64)} * 1000000.0) AS BIGINT) AS exact_e6
        FROM v CROSS JOIN qfull WHERE vec_id <> 1),
      extop AS (SELECT vec_id FROM exact ORDER BY exact_e6, vec_id LIMIT 10)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY r.exact_e6, r.vec_id) AS BIGINT) AS rank,
             r.vec_id, r.adc_e6, r.exact_e6,
             (r.vec_id IN (SELECT vec_id FROM extop)) AS in_exact_top10
      FROM rerank r
      ORDER BY rank
    """.stripMargin.trim))

  /** Residual quantization on top of PQ — the SECOND standard
    * compression ladder step (Jégou 2011 §V "refinement", faiss's RQ):
    * after the level-1 PQ8x4 codebooks, each subspace vector's RESIDUAL
    * r = vs − c1[code1] is quantized by a second 16-centroid codebook
    * (seeded from the same content-hash seed set's residuals, one Lloyd
    * pass — the level-1 recipe verbatim), doubling the code size to
    * 8 bits/subspace. The demonstrable, deterministic metric on these
    * near-noise embeddings is RECONSTRUCTION error, not top-10 recall
    * (the numpy replica shows recall stays ~2/10 even with the residual
    * level — the re-rank in [[pqAdcTopk]] is what fixes recall): the
    * artifact reports per-subspace Σ⌊‖r‖²·10⁶⌋ (level 1) vs
    * Σ⌊‖r−c2‖²·10⁶⌋ (level 2) and the integer gain ppm — measured
    * ~38% MSE reduction, the codebook-evaluation readout that decides
    * whether the second level earns its bits before deployment.
    *
    * Exactness: residuals are exact double subtraction (identical IEEE
    * ops both engines), errors are FLOOR(·10⁶)-quantized BEFORE
    * summation, and the final gain is integer division. Scale shape:
    * identical to the PQ arm — keyed assigns against ≤128-row broadcast
    * codebooks, one posexplode update pass per level, nothing global
    * but the 16-row seed rank.
    */
  val rqReconGain: QueryDef = QueryDef(
    "ann_rq_reconstruction_gain",
    (s, dir) => {
      val l1 = pqLevel1(s, dir)
      val res = l1.res
      val cb20 = res.join(broadcast(l1.seeds.select(col("cid"), col("vec_id"))), "vec_id")
        .select(col("s"), col("cid"), col("r").as("c"))
      val cb2 = pqUpdate(pqAssign(res, "r", cb20), "r")
      val codes2 = pqAssign(res, "r", cb2) // carries r — no join-back
      codes2
        .join(broadcast(cb2), Seq("s", "cid"))
        .withColumn("e1", expr(
          "CAST(FLOOR(aggregate(zip_with(r, r, (x, y) -> x * y), 0.0D, (a, b) -> a + b) * 1000000.0D) AS BIGINT)"))
        .withColumn("e2", expr(dist2E6("r", "c")))
        .groupBy(col("s"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(col("e1")).as("e1_sum"), sum(col("e2")).as("e2_sum"))
        .withColumn("gain_ppm",
          expr("CAST(((e1_sum - e2_sum) * 1000000) DIV e1_sum AS BIGINT)"))
        .select(col("s").cast("long").as("subspace"), col("n_vectors"),
          col("e1_sum"), col("e2_sum"), col("gain_ppm"))
        .orderBy("subspace")
    },
    Some(s"""
      WITH ${pqLevel1Sql("vec_id, v", "codes1")},
      res AS (
        SELECT sub.vec_id, sub.s,
               list_transform(generate_series(1, 8),
                 i -> sub.vs[CAST(i AS INT)] - cb1.c[CAST(i AS INT)]) AS r
        FROM codes1 JOIN sub USING (vec_id, s) JOIN cb1 USING (s, cid)),
      cb20 AS (
        SELECT res.s, seeds.cid, res.r AS c
        FROM res JOIN seeds ON res.vec_id = seeds.vec_id),
      ${pqAssignSql("a2", "res", "r", "cb20")},
      ${pqUpdateSql("cb2", "a2", "res", "r")},
      ${pqAssignSql("codes2", "res", "r", "cb2")},
      err AS (
        SELECT res.s,
               CAST(FLOOR(list_reduce(list_transform(generate_series(1, 8),
                      i -> res.r[CAST(i AS INT)] * res.r[CAST(i AS INT)]),
                    (a, b) -> a + b) * 1000000.0) AS BIGINT) AS e1,
               CAST(FLOOR(${dist2Duck("res.r", "cb2.c", 8)} * 1000000.0) AS BIGINT) AS e2
        FROM codes2 JOIN res USING (vec_id, s) JOIN cb2 USING (s, cid))
      SELECT CAST(s AS BIGINT) AS subspace, COUNT(*) AS n_vectors,
             CAST(SUM(e1) AS BIGINT) AS e1_sum, CAST(SUM(e2) AS BIGINT) AS e2_sum,
             CAST((SUM(e1) - SUM(e2)) * 1000000 // SUM(e1) AS BIGINT) AS gain_ppm
      FROM err
      GROUP BY s
      ORDER BY subspace
    """.stripMargin.trim))

  /** Trained IVFADC index frames: the corpus vectors (with cell label),
    * the coarse cell centroids, the per-subspace residual codebooks,
    * and the encoded inverted file (vec_id, label, s, cid). */
  private final case class IvfAdcIndex(
    vecs: DataFrame, cents: DataFrame, cb1: DataFrame, codes: DataFrame)

  /** One IVFADC training pass (coarse centroids → residuals → one Lloyd
    * pass per subspace → encode). pinned=false keeps exactly the
    * per-query checkpoints the inline carrier always had (GC-freed
    * after the query); pinned=true additionally materializes the
    * centroid and code frames, so probe queries read the artifact
    * without recomputing either — the caller wraps it in
    * [[graft.PinnedStorage.pin]]. */
  private def ivfAdcBuild(s: SparkSession, dir: String, pinned: Boolean): IvfAdcIndex = {
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .localCheckpoint(true) // centroid pass + residuals + seeds + exact arms
    // coarse centroids: per-cell per-dim decimal mean (≤|cells| rows)
    val cents0 = vecs.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg((sum(col("x").cast("decimal(20,10)")).cast("double") / count(lit(1)))
        .as("cx"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cx))), t -> t.cx)")
        .as("c"))
    val cents = if (pinned) cents0.localCheckpoint(true) else cents0
    // residual subspace slices, keyed by (vec_id, s); label carried.
    // Track the checkpoint's storage ids: in the pinned path this frame
    // (corpus × 8 residual-slice rows — another full copy of the
    // embedding data) is a BUILD intermediate no probe ever reads after
    // `codes` materializes, so it must be released before the caller's
    // PinnedStorage.pin snapshots the session artifact — otherwise it
    // sits pinned in old-gen for the remaining ~270 queries (r14 advice).
    val rsubBefore = s.sparkContext.getPersistentRDDs.keySet
    val rsub = vecs.join(broadcast(cents), "label")
      .select(col("vec_id"), col("label"),
        expr("zip_with(v, c, (x, y) -> x - y)").as("r"))
      .select(col("vec_id"), col("label"), explode(array((0 until PqM).map(m =>
        struct(lit(m).as("s"), slice(col("r"), m * PqSD + 1, PqSD).as("rs"))): _*)).as("e"))
      .select(col("vec_id"), col("label"), col("e.s").as("s"), col("e.rs").as("rs"))
      .localCheckpoint(true) // cb0 seed join + assign ×2 + update
    val rsubIds = s.sparkContext.getPersistentRDDs.keySet.diff(rsubBefore)
    val seeds = TwoStageOrder.kSmallestRows(
        vecs.select(md5(col("vec_id").cast("string").cast("binary")).as("h"),
          col("vec_id")), "h", PqKC)
      // rank over the K=16-row seed frame (bounded by construction)
      .withColumn("cid", row_number().over(Window.orderBy(asc("h"))).cast("long"))
      .select("vec_id", "cid")
    val cb0 = rsub.join(broadcast(seeds), "vec_id")
      .select(col("s"), col("cid"), col("rs").as("c"))
    val cb1 = pqUpdate(pqAssign(rsub, "rs", cb0), "rs")
      .localCheckpoint(true) // encode pass + the per-cell distance tables
    val codes0 = pqAssign(rsub, "rs", cb1) // rsub carries label already
      .select(col("vec_id"), col("s"), col("cid"), col("label"))
    val codes = if (pinned) codes0.localCheckpoint(true) else codes0
    // codes is eagerly materialized above, so rsub has no reader left in
    // the pinned path — release it NOW, inside the pin block, so the
    // pin's after-snapshot never sees it (vecs/cents/cb1/codes stay)
    if (pinned) rsubIds.foreach(id =>
      s.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    IvfAdcIndex(vecs, cents, cb1, codes)
  }

  private val ivfAdcCache = new graft.SessionCache[IvfAdcIndex]

  /** The trained IVFADC artifact as a pinned session artifact — the
    * offline-train / online-probe split (r13 verdict item 2: the
    * ivf→ivf_prebuilt pattern applied to the composed index). Trained
    * once per (session, corpus); the HONEST training cost stays on the
    * ann_ivfadc_topk carrier, which runs the identical build inside its
    * own timed window. */
  private def ivfAdcIndex(s: SparkSession, dir: String): IvfAdcIndex =
    ivfAdcCache.getOrElseUpdate(s, dir) {
      graft.PinnedStorage.pin(s) { ivfAdcBuild(s, dir, pinned = true) }
    }

  /** The single-query IVFADC+R probe (QID=1, W=2 cells, R=100
    * shortlist, exact top-10) over an [[IvfAdcIndex]] — shared VERBATIM
    * by the inline-build carrier and the prebuilt probe, so their
    * result rows are identical by construction. */
  private def ivfAdcProbeSingle(ix: IvfAdcIndex): DataFrame = {
      val QID = 1L; val TOPK = 10; val R = 100; val W = 2
      import ix.{vecs, cents, cb1, codes}
      // probe the W cells whose centroids are exactly nearest the query
      val qfull = vecs.filter(col("vec_id") === QID).select(col("v").as("q"))
      val qcells = cents.crossJoin(broadcast(qfull))
        .withColumn("cd_e6", expr(dist2E6("q", "c")))
        .orderBy(asc("cd_e6"), asc("label")).limit(W)
        .select(col("label"), col("c"))
      // per-cell asymmetric distance tables: query residual vs codebooks
      val qrsub = qcells.crossJoin(broadcast(qfull))
        .select(col("label"), expr("zip_with(q, c, (x, y) -> x - y)").as("qr"))
        .select(col("label"), explode(array((0 until PqM).map(m =>
          struct(lit(m).as("s"), slice(col("qr"), m * PqSD + 1, PqSD).as("qrs"))): _*)).as("e"))
        .select(col("label"), col("e.s").as("s"), col("e.qrs").as("qrs"))
      val dtab = cb1.join(broadcast(qrsub), "s")
        .withColumn("d", expr(dist2("qrs", "c")))
        .select(col("label"), col("s"), col("cid"), col("d"))
      // ADC scan over the PROBED CELLS' codes only (the dtab join prunes)
      val shortlist = codes.filter(col("vec_id") =!= QID)
        .join(broadcast(dtab), Seq("label", "s", "cid"))
        .groupBy("vec_id", "label")
        .agg(sum(expr("CAST(FLOOR(d * 1000000.0D) AS BIGINT)")).as("adc_e6"))
        .orderBy(asc("adc_e6"), asc("vec_id")).limit(R)
      val rerank = vecs.join(broadcast(shortlist.select("vec_id", "adc_e6")), "vec_id")
        .crossJoin(broadcast(qfull))
        .withColumn("exact_e6", expr(dist2E6("v", "q")))
        .orderBy(asc("exact_e6"), asc("vec_id")).limit(TOPK)
        .select(col("vec_id"), col("label"), col("adc_e6"), col("exact_e6"))
      // recall audit arm: the GLOBAL exact top-10 (includes cell misses)
      val exTop = vecs.filter(col("vec_id") =!= QID).crossJoin(broadcast(qfull))
        .withColumn("exact_e6", expr(dist2E6("v", "q")))
        .orderBy(asc("exact_e6"), asc("vec_id")).limit(TOPK)
        .select(col("vec_id").as("evid"))
      rerank
        .join(broadcast(exTop), col("vec_id") === col("evid"), "left")
        .withColumn("in_exact_top10", col("evid").isNotNull)
        // rank over the 10-row TakeOrdered frame (bounded by limit)
        .withColumn("rank",
          row_number().over(Window.orderBy(asc("exact_e6"), asc("vec_id"))).cast("long"))
        .select(col("rank"), col("vec_id"), col("label").cast("long").as("cell"),
          col("adc_e6"), col("exact_e6"), col("in_exact_top10"))
        .orderBy("rank")
  }

  /** IVFADC proper (Jégou 2011 §IV): the coarse inverted file and the
    * product quantizer COMPOSED — every vector's residual against its
    * cell centroid is PQ8x4-encoded, and a query (a) ranks cell
    * centroids by exact distance and probes the W=2 nearest, (b) builds
    * a PER-CELL distance table against its own residual in that cell
    * (the asymmetric part — the query is never quantized), (c) ADC-scans
    * ONLY the probed cells' codes, and (d) exact-re-ranks the R=100
    * shortlist ("IVFADC+R", §VII). This is the arm the standalone
    * [[pqAdcTopk]] (whole-space PQ) and [[ivfLabel]] (cells, full
    * vectors) each demonstrate half of: at 100 TB the inverted file
    * cuts the scan to W/|cells| of the corpus AND each scanned entry is
    * 4 bytes — cells ride the existing `label` coarse assignment, codes
    * are integer equi-joins against ≤2·128-row broadcast tables, and
    * the re-rank fetches exactly R full vectors.
    *
    * Exactness discipline end to end: centroids and residual codebooks
    * through the vetted DECIMAL(20,10)-mean recipe ([[kmeansTrain]]),
    * every summed distance FLOOR(·10⁶)-quantized before aggregation,
    * cell probing and all ranks totally ordered with id tiebreaks. The
    * exact-top-10 membership flag is computed against the GLOBAL exact
    * ranking, so the readout includes what cell pruning itself misses.
    *
    * This carrier trains INLINE on purpose — it is the family's honest
    * build-cost baseline (the ivf vs ivf_prebuilt pairing); the
    * deployment-shape probe over the pinned artifact is
    * [[ivfAdcPrebuilt]], with identical result rows.
    */
  val ivfAdcTopk: QueryDef = QueryDef(
    "ann_ivfadc_topk",
    (s, dir) => ivfAdcProbeSingle(ivfAdcBuild(s, dir, pinned = false)),
    Some(ivfAdcSingleSql))

  /** IVFADC probe against the prebuilt pinned index — identical
    * semantics (and oracle twin) to ann_ivfadc_topk, but the bench time
    * is probe-only: coarse centroids, residual codebooks and the
    * encoded inverted file are trained once per session ([[ivfAdcIndex]]),
    * exactly how a deployed 100 TB IVFADC service amortizes training
    * (r13 verdict item 2 — this was the only ANN query still paying
    * its training cost inside the probe window). */
  val ivfAdcPrebuilt: QueryDef = QueryDef(
    "ann_ivfadc_prebuilt",
    (s, dir) => ivfAdcProbeSingle(ivfAdcIndex(s, dir)),
    Some(ivfAdcSingleSql))

  /** The shared IVFADC training CTE chain of the DuckDB twins (the SQL
    * mirror of [[ivfAdcBuild]]): corpus vectors → coarse centroids →
    * residual slices → hash-seeded codebooks → one Lloyd pass → codes. */
  private lazy val ivfAdcBuildCtes: String = s"""
      v AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      cents AS (
        SELECT label, list(cx ORDER BY pos) AS c FROM (
          SELECT label, CAST(i.range AS INT) + 1 AS pos,
                 CAST(SUM(CAST(v[CAST(i.range AS INT) + 1] AS DECIMAL(20,10))) AS DOUBLE)
                   / COUNT(*) AS cx
          FROM v CROSS JOIN range(0, $Dim) i
          GROUP BY 1, 2) m GROUP BY label),
      rsub AS (
        SELECT v.vec_id, v.label, CAST(m.range AS INT) AS s,
               list_slice(list_transform(generate_series(1, $Dim),
                   i -> v.v[CAST(i AS INT)] - c.c[CAST(i AS INT)]),
                 CAST(m.range AS INT) * 8 + 1, CAST(m.range AS INT) * 8 + 8) AS rs
        FROM v JOIN cents c USING (label) CROSS JOIN range(0, 8) m),
      seeds AS (
        SELECT vec_id, cid FROM (
          SELECT vec_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS BIGINT) AS cid
          FROM v) t WHERE cid <= 16),
      cb0 AS (
        SELECT rsub.s, seeds.cid, rsub.rs AS c
        FROM rsub JOIN seeds USING (vec_id)),
      ${pqAssignSql("a0", "rsub", "rs", "cb0")},
      ${pqUpdateSql("cb1", "a0", "rsub", "rs")},
      codes AS (
        SELECT t.vec_id, v.label, t.s, t.cid FROM (
          SELECT rsub.vec_id, rsub.s, cb1.cid,
                 ROW_NUMBER() OVER (PARTITION BY rsub.vec_id, rsub.s
                   ORDER BY ${dist2Duck("rsub.rs", "cb1.c", 8)}, cb1.cid) AS rn
          FROM rsub JOIN cb1 USING (s)) t
        JOIN v ON t.vec_id = v.vec_id WHERE t.rn = 1)""".stripMargin.trim

  /** Single-query probe SQL twin, shared by ann_ivfadc_topk and
    * ann_ivfadc_prebuilt (same rows by construction — the Spark sides
    * share [[ivfAdcProbeSingle]]). */
  private lazy val ivfAdcSingleSql: String = s"""
      WITH $ivfAdcBuildCtes,
      qv AS (SELECT v AS q FROM v WHERE vec_id = 1),
      qcells AS (
        SELECT label, c FROM (
          SELECT c.label, c.c,
                 CAST(FLOOR(${dist2Duck("qv.q", "c.c", Dim)} * 1000000.0) AS BIGINT) AS cd
          FROM cents c CROSS JOIN qv) t
        ORDER BY cd, label LIMIT 2),
      qrsub AS (
        SELECT qc.label, CAST(m.range AS INT) AS s,
               list_slice(list_transform(generate_series(1, $Dim),
                   i -> qv.q[CAST(i AS INT)] - qc.c[CAST(i AS INT)]),
                 CAST(m.range AS INT) * 8 + 1, CAST(m.range AS INT) * 8 + 8) AS qrs
        FROM qcells qc CROSS JOIN qv CROSS JOIN range(0, 8) m),
      dtab AS (
        SELECT qrsub.label, cb1.s, cb1.cid,
               ${dist2Duck("qrsub.qrs", "cb1.c", 8)} AS d
        FROM cb1 JOIN qrsub USING (s)),
      short AS (
        SELECT codes.vec_id, codes.label,
               CAST(SUM(CAST(FLOOR(d * 1000000.0) AS BIGINT)) AS BIGINT) AS adc_e6
        FROM codes JOIN dtab USING (label, s, cid)
        WHERE codes.vec_id <> 1
        GROUP BY 1, 2
        ORDER BY adc_e6, vec_id LIMIT 100),
      rr AS (
        SELECT sl.vec_id, sl.label, sl.adc_e6,
               CAST(FLOOR(${dist2Duck("v.v", "qv.q", Dim)} * 1000000.0) AS BIGINT) AS exact_e6
        FROM short sl JOIN v USING (vec_id) CROSS JOIN qv
        ORDER BY exact_e6, vec_id LIMIT 10),
      extop AS (
        SELECT vec_id FROM (
          SELECT vec_id,
                 CAST(FLOOR(${dist2Duck("v.v", "qv.q", Dim)} * 1000000.0) AS BIGINT) AS e
          FROM v CROSS JOIN qv WHERE vec_id <> 1) t
        ORDER BY e, vec_id LIMIT 10)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY rr.exact_e6, rr.vec_id) AS BIGINT) AS rank,
             rr.vec_id, CAST(rr.label AS BIGINT) AS cell, rr.adc_e6, rr.exact_e6,
             (rr.vec_id IN (SELECT vec_id FROM extop)) AS in_exact_top10
      FROM rr
      ORDER BY rank
    """.stripMargin.trim

  /** Batched IVFADC serving probe (r13 verdict item 3): Q=100 query
    * vectors pushed through the probe AS ONE PASS — per-(query, cell)
    * distance tables, ONE ADC scan of the probed inverted lists shared
    * by every query, one per-query exact re-rank — the plan shape an
    * online ANN service runs at 100 TB, where per-query plan launches
    * would dominate. Everything query-sided stays broadcast-tiny:
    * Q·|cells| centroid ranks, Q·W·M residual slices, Q·W·M·K
    * distance-table cells (100·2·8·16 = 25,600 rows — still one
    * broadcast); the corpus-sided cost is a single keyed equi-join of
    * the probed cells' 4-byte codes against that table, which is what
    * amortizes: total cost ≪ Q × the single-query probe. Probes the
    * pinned [[ivfAdcIndex]]; the honest training cost stays on
    * ann_ivfadc_topk. Per query: W=2 cells, R=50 shortlist, exact
    * top-5, every rank totally ordered with id tiebreaks.
    */
  /** Hard ceiling on the batched serving arms' batch size (r15 verdict
    * item 6: the Q≈10⁵ broadcast ceiling was a DESIGN extrapolation —
    * nothing stopped a caller from sailing past it). Everything
    * query-sided in the batched probes is broadcast; the largest such
    * frame is the IVFADC per-(query, cell) distance table at
    * Q · [[AdcBroadcastRowsPerQuery]] rows (= Q·W·M·K = 256·Q). At
    * [[MaxBatchQ]] that is 25.6M rows ≈ 1.6 GiB at a conservative 64 B
    * per unsafe row; the pinned contract (Round16Spec) bounds it at
    * 2 GiB — 4× headroom under Spark's 8 GiB broadcast-table hard
    * limit. The greedy
    * batch's largest broadcast (the expanded beam, ≤ Q·B·(k+1) ≈ 18·Q
    * rows) is an order of magnitude smaller and shares the same cap.
    * Batches beyond the cap must shuffle the query side instead of
    * broadcasting it (a different, not-yet-needed arm); the probes fail
    * fast rather than hand Spark an over-limit broadcast. */
  val MaxBatchQ = 100000L
  private[graft] val AdcBroadcastRowsPerQuery: Long = 2L * PqM * PqKC

  /** The batched probe at an arbitrary batch size — the declared query
    * pins NQ=100; how per-query cost falls with Q is measured in
    * DESIGN.md round 15. */
  private[operators] def ivfAdcBatchProbe(s: SparkSession, dir: String,
      NQ: Long): DataFrame = {
      require(NQ <= MaxBatchQ,
        s"batch Q=$NQ exceeds MaxBatchQ=$MaxBatchQ (broadcast ceiling)")
      val TOPK = 5; val R = 50; val W = 2
      val ix = ivfAdcIndex(s, dir)
      import ix.{vecs, cents, cb1, codes}
      // vec_ids are 0-based: strict < NQ is exactly Q=NQ queries (the
      // r14 <= filter ran 101 and drifted from the documented batch math)
      val qset = vecs.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("qid"), col("v").as("q"))
      // rank cells per query over the Q·|cells| crossed frame (both
      // sides bounded: |cells| fixed, Q=100)
      val wq = Window.partitionBy("qid").orderBy(asc("cd_e6"), asc("label"))
      val qcells = cents.crossJoin(broadcast(qset))
        .withColumn("cd_e6", expr(dist2E6("q", "c")))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= W)
        .select(col("qid"), col("label"), col("c"), col("q"))
      // per-(query, cell) asymmetric distance tables
      val qrsub = qcells
        .select(col("qid"), col("label"),
          expr("zip_with(q, c, (x, y) -> x - y)").as("qr"))
        .select(col("qid"), col("label"), explode(array((0 until PqM).map(m =>
          struct(lit(m).as("s"), slice(col("qr"), m * PqSD + 1, PqSD).as("qrs"))): _*)).as("e"))
        .select(col("qid"), col("label"), col("e.s").as("s"), col("e.qrs").as("qrs"))
      val dtab = cb1.join(broadcast(qrsub), "s")
        .withColumn("d", expr(dist2("qrs", "c")))
        .select(col("qid"), col("label"), col("s"), col("cid"), col("d"))
      // ONE ADC scan serves all Q queries: probed codes × broadcast table
      val ws = Window.partitionBy("qid").orderBy(asc("adc_e6"), asc("vec_id"))
      val shortlist = codes
        .join(broadcast(dtab), Seq("label", "s", "cid"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy("qid", "vec_id")
        .agg(sum(expr("CAST(FLOOR(d * 1000000.0D) AS BIGINT)")).as("adc_e6"))
        .withColumn("rn", row_number().over(ws))
        .filter(col("rn") <= R)
        .select("qid", "vec_id", "adc_e6")
      // per-query exact re-rank of the Q·R shortlist (point fetches)
      val wr = Window.partitionBy("qid").orderBy(asc("exact_e6"), asc("vec_id"))
      vecs.join(broadcast(shortlist), "vec_id")
        .join(broadcast(qset), "qid")
        .withColumn("exact_e6", expr(dist2E6("v", "q")))
        .withColumn("rank", row_number().over(wr).cast("long"))
        .filter(col("rank") <= TOPK)
        .select(col("qid"), col("rank"), col("vec_id"),
          col("label").cast("long").as("cell"), col("adc_e6"), col("exact_e6"))
        .orderBy("qid", "rank")
  }

  val ivfAdcBatch: QueryDef = QueryDef(
    "ann_ivfadc_batch_topk",
    (s, dir) => ivfAdcBatchProbe(s, dir, NQ = 100L),
    Some(s"""
      WITH $ivfAdcBuildCtes,
      qset AS (SELECT vec_id AS qid, v AS q FROM v WHERE vec_id < 100),
      qcells AS (
        SELECT qid, label, c, q FROM (
          SELECT qs.qid, c.label, c.c, qs.q,
                 ROW_NUMBER() OVER (PARTITION BY qs.qid ORDER BY
                   CAST(FLOOR(${dist2Duck("qs.q", "c.c", Dim)} * 1000000.0) AS BIGINT),
                   c.label) AS rn
          FROM cents c CROSS JOIN qset qs) t WHERE rn <= 2),
      qrsub AS (
        SELECT qid, label, CAST(m.range AS INT) AS s,
               list_slice(list_transform(generate_series(1, $Dim),
                   i -> q[CAST(i AS INT)] - c[CAST(i AS INT)]),
                 CAST(m.range AS INT) * 8 + 1, CAST(m.range AS INT) * 8 + 8) AS qrs
        FROM qcells CROSS JOIN range(0, 8) m),
      dtab AS (
        SELECT qrsub.qid, qrsub.label, cb1.s, cb1.cid,
               ${dist2Duck("qrsub.qrs", "cb1.c", 8)} AS d
        FROM cb1 JOIN qrsub USING (s)),
      short AS (
        SELECT qid, vec_id, adc_e6 FROM (
          SELECT g.qid, g.vec_id, g.adc_e6,
                 ROW_NUMBER() OVER (PARTITION BY g.qid
                   ORDER BY g.adc_e6, g.vec_id) AS rn
          FROM (
            SELECT dt.qid, codes.vec_id,
                   CAST(SUM(CAST(FLOOR(d * 1000000.0) AS BIGINT)) AS BIGINT) AS adc_e6
            FROM codes JOIN dtab dt USING (label, s, cid)
            WHERE codes.vec_id <> dt.qid
            GROUP BY 1, 2) g) t WHERE rn <= 50),
      rr AS (
        SELECT sl.qid, sl.vec_id, v.label, sl.adc_e6,
               CAST(FLOOR(${dist2Duck("v.v", "qs.q", Dim)} * 1000000.0) AS BIGINT) AS exact_e6
        FROM short sl JOIN v USING (vec_id) JOIN qset qs ON sl.qid = qs.qid)
      SELECT qid, rank, vec_id, cell, adc_e6, exact_e6 FROM (
        SELECT qid,
               CAST(ROW_NUMBER() OVER (PARTITION BY qid
                 ORDER BY exact_e6, vec_id) AS BIGINT) AS rank,
               vec_id, CAST(label AS BIGINT) AS cell, adc_e6, exact_e6
        FROM rr) t
      WHERE rank <= 5
      ORDER BY qid, rank
    """.stripMargin.trim))

  /** Greedy beam search OVER the k-NN graph — the navigable-small-world
    * search arm (Malkov & Yashunin's HNSW layer-0 routine) that makes
    * [[knnGraph]]'s artifact an index rather than a report, and the
    * fourth ANN paradigm next to brute/IVF-or-LSH/PQ: start at a fixed
    * content-hash entry node, and for [[NavHops]]=5 synchronous hops
    * (the measured convergence budget — hops 7/9 are bit-identical to
    * 5 at both measured corpus sizes) expand the current beam's graph
    * neighbors, score them EXACTLY against the query, and keep the best
    * B (cos DESC, id ASC) where B is the corpus-aware [[navBeam]] dial.
    * The output is the full hop trace (hop 0 = the scored entry), so
    * convergence — the beam's best cosine is non-decreasing per hop —
    * is part of the checked artifact.
    *
    * At 100 TB this is the navigate-don't-scan shape: each hop touches
    * B·k graph edges (keyed equi-join on the node id) and fetches B·k
    * full vectors (point lookups), independent of corpus size; the
    * graph build is the amortized artifact the knnGraph carriers pay
    * for — since r14 the CELL-CAPPED edge set (see [[knnEdges]]: the
    * uncapped build measured exponent 1.73 at sf0.5, the capped one
    * flat, and the recall gate prices the difference). Scoring doubles
    * are the vetted float_dot/list_reduce pair, so beams tie-break
    * identically across engines.
    */
  /** The k-NN graph as a pinned session artifact (qid → top-3 cand_id),
    * built once per (session, corpus) from the pinned signature index —
    * the navigable index [[knnGraphGreedy]] probes. As of r14 the
    * canonical edge source is the CELL-CAPPED build (the
    * [[knnGraphCapped]] derivation): the uncapped per-cell pair join
    * measured exponent 1.73 at sf0.5 (0.61 s → 9.89 s under ×5 — cells
    * grow with the corpus, pairs grow with cells², exactly the hot-cell
    * hazard the cap exists for), while the capped build measured flat
    * (0.67 s → 0.69 s). The approximation is PRICED by the
    * ann_recall_knn_capped_vs_exact gate (floor pinned in Round14Spec);
    * ann_knn_graph_ivf remains the uncapped exactness baseline and its
    * super-linear cost is now a documented anti-pattern, not the
    * artifact anything probes. The HONEST capped build cost stays on
    * the ann_knn_graph_capped carrier, which constructs the identical
    * edge set inside its own timed window.
    */
  private val knnEdgesCache = new graft.SessionCache[DataFrame]

  private def knnEdges(s: SparkSession, dir: String): DataFrame =
    knnEdgesCache.getOrElseUpdate(s, dir) {
      graft.PinnedStorage.pin(s) {
        val e = index(s, dir)
        val intra = storedTop3(cappedPairCandidates(e)).select("qid", "cand_id")
        // r15 verdict item 2: without long-range links the walk can
        // never leave its entry cell (the capped rounds are all
        // label-equal), so the navigable artifact adds each node's
        // top-CrossKPerCell edges into EACH of its CrossA adjacent
        // cells — disjoint from the intra set by construction
        // (different label), so the union needs no dedup
        val cross = crossCellEdges(e)
          .select("qid", "cand_id")
        intra.union(cross).localCheckpoint(true)
      }
    }

  val knnGraphGreedy: QueryDef = QueryDef(
    "ann_knn_graph_greedy_search",
    (s, dir) => {
      val QID = 1L
      val e = index(s, dir)
      // corpus-aware beam dial: one count over the pinned index at plan
      // time (milliseconds; the twin's dial CTE computes the same CASE)
      val B = navBeam(e.count())
      val edges = knnEdges(s, dir)
      val qfull = e.filter(col("vec_id") === QID)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      // exact query-cosine for a candidate-id frame (point fetch + score)
      def scored(ids: DataFrame): DataFrame =
        e.join(broadcast(ids.select(col("vec_id")).distinct()), "vec_id")
          .crossJoin(broadcast(qfull))
          .select(col("vec_id"),
            (expr("float_dot(embedding, qe)") / (col("nrm") * col("qn"))).as("cos"))
      // IVF-SEEDED entry (r15, forced by the ann_recall_greedy_vs_exact
      // gate): the capped graph's edges are intra-cell by construction
      // (every build round requires q.label = c.label), so a globally
      // hash-random entry can never walk into the query's cell — the
      // gate read 0/30 exact-top-3 found. The composed-index shape is
      // coarse-quantizer-routes, graph-serves-within-the-cell: entry =
      // the smallest-content-hash member of the QUERY'S OWN cell (one
      // keyed equi-join on label + a global argmin — bounded at any
      // corpus size; an external query would rank centroids first,
      // exactly the ivfLabel probe).
      val qlab = e.filter(col("vec_id") === QID).select(col("label").as("qlabel"))
      val entry = e.filter(col("vec_id") =!= QID)
        .join(broadcast(qlab), col("label") === col("qlabel"))
        .agg(min_by(col("vec_id"),
          md5(col("vec_id").cast("string").cast("binary"))).as("vec_id"))
        // singleton-cell guard (r15 advice): an ungrouped min_by over
        // zero rows yields one NULL-keyed row, which would silently walk
        // a NULL hop chain — drop it so an empty cell produces an
        // explicitly empty trace instead (twin filters identically)
        .filter(col("vec_id").isNotNull)
      def hop(beam: DataFrame): DataFrame = {
        val expanded = edges.join(broadcast(beam.select(col("vec_id").as("qid"))), "qid")
          .select(col("cand_id").as("vec_id"))
          .union(beam.select("vec_id"))
          .filter(col("vec_id") =!= QID)
        // B rows, materialized: hop N feeds hop N+1 AND the final trace
        // union — unpinned, the union re-executes each beam's whole
        // upstream DAG (b1 three times, b0 four)
        scored(expanded).orderBy(desc("cos"), asc("vec_id")).limit(B)
          .localCheckpoint(true)
      }
      val b0 = scored(entry).localCheckpoint(true)
      val beams = Iterator.iterate(b0)(hop).take(NavHops + 1).toSeq
      val wr = Window.partitionBy("hop").orderBy(desc("cos"), asc("vec_id"))
      beams.zipWithIndex
        .map { case (b, h) => b.select(lit(h.toLong).as("hop"), col("vec_id"), col("cos")) }
        .reduce(_ union _)
        .withColumn("rank", row_number().over(wr).cast("long"))
        .select("hop", "rank", "vec_id", "cos")
        .orderBy("hop", "rank")
    },
    Some(s"""
      WITH $eCteSql,
      ${navEdgesSqlCtes("qid")},
      $navDialSqlCte,
      qv AS (SELECT embedding AS qe, nrm AS qn, label AS qlabel FROM e WHERE vec_id = 1),
      entry AS (
        SELECT vec_id FROM (
          SELECT arg_min(e.vec_id, md5(CAST(e.vec_id AS VARCHAR))) AS vec_id
          FROM e, qv WHERE e.label = qv.qlabel AND e.vec_id != 1) t
        WHERE vec_id IS NOT NULL),
      b0 AS (
        SELECT e.vec_id,
               $queryCosSql AS cos
        FROM e JOIN entry USING (vec_id) CROSS JOIN qv),
      ${(1 to NavHops).map(h => greedySingleHopSql(s"b${h - 1}", s"n$h", s"b$h")).mkString(",")},
      trace AS (
        SELECT 0 AS hop, vec_id, cos FROM b0
        ${(1 to NavHops).map(h => s"UNION ALL SELECT $h, vec_id, cos FROM b$h").mkString("\n        ")})
      SELECT CAST(hop AS BIGINT) AS hop,
             CAST(${cosRankSql("hop", "vec_id")} AS BIGINT) AS rank,
             vec_id, cos
      FROM trace
      ORDER BY hop, rank
    """.stripMargin.trim))

  /** Batched greedy graph search — the NSW serving arm, the graph
    * family's twin of [[ivfAdcBatch]]: Q=10 query vectors navigate the
    * pinned capped k-NN graph IN ONE PASS. Each hop is a single keyed
    * equi-join of the (qid, node) beam frame against the edge list plus
    * one batched point-fetch scoring join — the per-hop stage launches
    * (the single-query arm's whole cost at this scale) are paid once
    * and shared by every query, and each query's beam stays an
    * independent dialed-B row set ranked per qid. Per-query entry is the
    * smallest-content-hash member of the query's OWN coarse cell
    * (self-excluded) — the IVF-seeded routing the recall gate forced
    * (the capped graph is intra-cell; a global entry strands the walk
    * in the wrong cell). The output is
    * the full per-query hop trace, so per-query convergence (best
    * cosine non-decreasing per hop) stays part of the checked artifact.
    *
    * At 100 TB: hop cost is Q·B·k edge fetches + Q·B·k vector point
    * fetches regardless of corpus size; everything query-sided is a
    * ≤Q·B·(k+1)-row broadcast. The graph is the CAPPED pinned artifact
    * ([[knnEdges]]) — the build whose growth measured flat where the
    * uncapped one read exponent 1.73.
    */
  /** The batched navigation at an arbitrary batch size — the declared
    * query pins NQ=10; the NQ sweep behind it is DESIGN.md round 15. The
    * walk runs the declared dials: [[NavHops]] hops at the corpus-aware
    * [[navBeam]] width, over the pinned canonical graph. */
  private[operators] def greedyBatchProbe(s: SparkSession, dir: String,
      NQ: Long): DataFrame = {
      require(NQ <= MaxBatchQ,
        s"batch Q=$NQ exceeds MaxBatchQ=$MaxBatchQ (broadcast ceiling)")
      val e = index(s, dir)
      val B = navBeam(e.count())
      val edges = knnEdges(s, dir)
      val qset = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("label").as("qlabel"))
      // per-query IVF-SEEDED entry (r15, forced by the
      // ann_recall_greedy_vs_exact gate — see knnGraphGreedy): the
      // capped graph is intra-cell, so each query enters at the
      // smallest-content-hash member of its OWN cell. One keyed
      // equi-join on label + a per-query argmin — bounded at any
      // corpus size.
      val entries = e.select(col("vec_id"), col("label"),
          md5(col("vec_id").cast("string").cast("binary")).as("h"))
        .join(broadcast(qset.select(col("qid"), col("qlabel"))),
          col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
        .groupBy("qid")
        .agg(min_by(col("vec_id"), col("h")).as("vec_id"))
      // batched point-fetch scoring: candidate (qid, vec_id) pairs →
      // exact query cosine, one e-scan shared by all queries
      def scoredB(ids: DataFrame): DataFrame =
        e.join(broadcast(ids.select("qid", "vec_id").distinct()), "vec_id")
          .join(broadcast(qset), "qid")
          .select(col("qid"), col("vec_id"),
            (expr("float_dot(embedding, qe)") / (col("nrm") * col("qn"))).as("cos"))
      val wb = Window.partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))
      def hopB(beam: DataFrame): DataFrame = {
        val expanded = edges.select(col("qid").as("node"), col("cand_id"))
          .join(broadcast(beam.select(col("qid").as("bq"), col("vec_id").as("node"))),
            "node")
          .select(col("bq").as("qid"), col("cand_id").as("vec_id"))
          .union(beam.select("qid", "vec_id"))
          .filter(col("vec_id") =!= col("qid"))
        scoredB(expanded)
          .withColumn("rn", row_number().over(wb))
          .filter(col("rn") <= B)
          .select("qid", "vec_id", "cos")
          // ≤Q·B rows, materialized: hop N feeds hop N+1 AND the final
          // trace union — unpinned, the union re-executes each beam's
          // whole upstream DAG (b1 three times, b0 four)
          .localCheckpoint(true)
      }
      val b0 = scoredB(entries).localCheckpoint(true)
      // b0..b{NavHops} (hopB's localCheckpoint keeps each step eager, so
      // the chain cost is linear in hops)
      val beams = Iterator.iterate(b0)(hopB).take(NavHops + 1).toSeq
      val wr = Window.partitionBy("hop", "qid").orderBy(desc("cos"), asc("vec_id"))
      beams.zipWithIndex
        .map { case (b, h) =>
          b.select(lit(h.toLong).as("hop"), col("qid"), col("vec_id"), col("cos")) }
        .reduce(_ union _)
        .withColumn("rank", row_number().over(wr).cast("long"))
        .select("hop", "qid", "rank", "vec_id", "cos")
        .orderBy("hop", "qid", "rank")
  }

  /** Cosine of each `e` row against its batch query `qs` (qe, qn). */
  private lazy val batchCosSql = s"${dotSql("e.embedding", "qs.qe")} / (e.nrm * qs.qn)"

  /** DuckDB twin of [[greedyBatchProbe]]'s hop chain (expects the `e`
    * and `edges` CTEs; emits its own `dial` CTE): query set, per-query
    * entry node, and the exact-scored beams b0..b[[NavHops]] at the
    * dialed beam width. Shared by the batch-search twin and the greedy
    * recall gate so the searched trace IS the priced trace. */
  private def greedyBatchSqlCtes(nq: Int): String = {
    def hop(prev: String, n: String, b: String): String = s"""
      $n AS (
        SELECT DISTINCT qid, vec_id FROM (
          SELECT b.qid, ed.cand_id AS vec_id FROM nav_edges ed JOIN $prev b ON ed.node = b.vec_id
          UNION ALL SELECT qid, vec_id FROM $prev) t WHERE vec_id != qid),
      $b AS (
        SELECT qid, vec_id, cos FROM (
          SELECT s1.qid, s1.vec_id, s1.cos,
                 ROW_NUMBER() OVER (PARTITION BY s1.qid ORDER BY s1.cos DESC, s1.vec_id ASC) AS rn
          FROM (
            SELECT n.qid, n.vec_id, $batchCosSql AS cos
            FROM $n n JOIN e USING (vec_id) JOIN qset qs ON n.qid = qs.qid) s1) t
        WHERE rn <= (SELECT b FROM dial))"""
    s"""$navDialSqlCte,
      qset AS (
        SELECT vec_id AS qid, embedding AS qe, nrm AS qn, label AS qlabel
        FROM e WHERE vec_id < $nq),
      entries AS (
        SELECT qs.qid, arg_min(e.vec_id, md5(CAST(e.vec_id AS VARCHAR))) AS vec_id
        FROM e JOIN qset qs ON e.label = qs.qlabel AND e.vec_id != qs.qid
        GROUP BY qs.qid),
      b0 AS (
        SELECT en.qid, en.vec_id, $batchCosSql AS cos
        FROM entries en JOIN e USING (vec_id) JOIN qset qs ON en.qid = qs.qid),
      ${(1 to NavHops).map(h => hop(s"b${h - 1}", s"n$h", s"b$h")).mkString(",")}"""
  }

  val knnGraphGreedyBatch: QueryDef = QueryDef(
    "ann_knn_graph_greedy_batch",
    (s, dir) => greedyBatchProbe(s, dir, NQ = 10L),
    Some(s"""
      WITH $eCteSql,
      ${navEdgesSqlCtes("node")},
      ${greedyBatchSqlCtes(10)},
      trace AS (
        SELECT 0 AS hop, qid, vec_id, cos FROM b0
        ${(1 to NavHops).map(h => s"UNION ALL SELECT $h, qid, vec_id, cos FROM b$h").mkString("\n        ")})
      SELECT CAST(hop AS BIGINT) AS hop, qid,
             CAST(${cosRankSql("hop, qid", "vec_id")} AS BIGINT) AS rank,
             vec_id, cos
      FROM trace
      ORDER BY hop, qid, rank
    """.stripMargin.trim))

  /** SEARCH recall of the greedy graph navigation — the gate that
    * prices the search itself, completing the family's pricing story:
    * ann_recall_knn_capped_vs_exact prices the BUILD (capped edges vs
    * the exact cell graph) and this prices what the declared dials —
    * [[NavHops]]=5 hops × the corpus-aware [[navBeam]] beam — from the
    * cell-seeded entry actually FIND. TWO recall universes per query,
    * exactly the IVFADC dual (shortlist recall vs global
    * in_exact_top10):
    *
    *  - `n_found_cell` / `found_cell_top1`: vs the exact top-3 WITHIN
    *    the query's own coarse cell — the set the intra-cell graph can
    *    reach at all; this is the navigation-quality dial.
    *  - `n_found_global`: vs the GLOBAL exact top-3 — includes what
    *    cell pruning itself forfeits. On this synthetic corpus the
    *    label is geometrically ~random (measured: 1/30 global top-3
    *    share the query's label, chance = 3/30 at 10 labels), so this
    *    column reads ~0 BY CORPUS CONSTRUCTION — recorded honestly as
    *    the pruning loss, the same loss every cell-scoped index (IVF
    *    included) pays here; a corpus whose cells are real clusters
    *    moves this toward n_found_cell.
    *
    * Both exact arms are the bounded *_vs_exact audit shapes: the cell
    * arm a keyed label equi-join, the global arm a 10-row broadcast
    * query set against one corpus scan. The beam-best vs best cosines
    * give the "how close" readout even when ids are missed.
    */
  val recallGreedy: QueryDef = QueryDef(
    "ann_recall_greedy_vs_exact",
    (s, dir) => {
      val NQ = 10L; val B = 3
      val e = index(s, dir)
      val qset = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("nrm").as("qn"), col("label").as("qlabel"))
      val wq = Window.partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))
      def scoredAll(cond: org.apache.spark.sql.Column) =
        e.join(broadcast(qset), cond)
          .select(col("qid"), col("vec_id"),
            (expr("float_dot(embedding, qe)") / (col("nrm") * col("qn"))).as("cos"))
          .withColumn("rank", row_number().over(wq))
          .filter(col("rank") <= B)
      val exGlobal = scoredAll(col("vec_id") =!= col("qid"))
      val exCell = scoredAll(col("label") === col("qlabel") &&
        col("vec_id") =!= col("qid"))
      val fin = greedyBatchProbe(s, dir, NQ).filter(col("hop") === NavHops)
        .select(col("qid").as("fq"), col("vec_id").as("fv"), col("cos").as("fcos"))
      val beamBest = fin.groupBy("fq").agg(max(col("fcos")).as("beam_best_cos"))
      val cellSide = exCell
        .join(broadcast(fin), col("qid") === col("fq") && col("vec_id") === col("fv"),
          "left")
        .groupBy("qid")
        .agg(
          sum(when(col("fv").isNotNull, 1L).otherwise(0L)).as("n_found_cell"),
          expr("bool_or(rank = 1 AND fv IS NOT NULL)").as("found_cell_top1"),
          max(when(col("rank") === 1, col("cos"))).as("cell_best_cos"))
      val globalSide = exGlobal
        .join(broadcast(fin), col("qid") === col("fq") && col("vec_id") === col("fv"),
          "left")
        .groupBy("qid")
        .agg(
          sum(when(col("fv").isNotNull, 1L).otherwise(0L)).as("n_found_global"),
          max(when(col("rank") === 1, col("cos"))).as("global_best_cos"))
        .withColumnRenamed("qid", "gq")
      cellSide
        .join(broadcast(globalSide), col("qid") === col("gq"))
        .join(broadcast(beamBest), col("qid") === col("fq"))
        .select(col("qid"), col("n_found_cell"), col("found_cell_top1"),
          col("n_found_global"), col("beam_best_cos"), col("cell_best_cos"),
          col("global_best_cos"))
        .orderBy("qid")
    },
    Some(s"""
      WITH $eCteSql,
      ${navEdgesSqlCtes("node")},
      ${greedyBatchSqlCtes(10)},
      exact0 AS (
        SELECT qs.qid, e.vec_id, (e.label = qs.qlabel) AS same_cell,
               $batchCosSql AS cos
        FROM e CROSS JOIN qset qs WHERE e.vec_id != qs.qid),
      exg AS (
        SELECT qid, vec_id, cos,
               ${cosRankSql("qid", "vec_id")} AS rank
        FROM exact0),
      exc AS (
        SELECT qid, vec_id, cos,
               ${cosRankSql("qid", "vec_id")} AS rank
        FROM exact0 WHERE same_cell),
      bb AS (SELECT qid, MAX(cos) AS beam_best_cos FROM b$NavHops GROUP BY qid),
      cside AS (
        SELECT x.qid,
               CAST(SUM(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found_cell,
               BOOL_OR(x.rank = 1 AND b.vec_id IS NOT NULL) AS found_cell_top1,
               MAX(CASE WHEN x.rank = 1 THEN x.cos END) AS cell_best_cos
        FROM exc x LEFT JOIN b$NavHops b ON x.qid = b.qid AND x.vec_id = b.vec_id
        WHERE x.rank <= 3 GROUP BY x.qid),
      gside AS (
        SELECT x.qid,
               CAST(SUM(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found_global,
               MAX(CASE WHEN x.rank = 1 THEN x.cos END) AS global_best_cos
        FROM exg x LEFT JOIN b$NavHops b ON x.qid = b.qid AND x.vec_id = b.vec_id
        WHERE x.rank <= 3 GROUP BY x.qid)
      SELECT c.qid, c.n_found_cell, c.found_cell_top1, g.n_found_global,
             bb.beam_best_cos, c.cell_best_cos, g.global_best_cos
      FROM cside c JOIN gside g ON c.qid = g.qid JOIN bb ON bb.qid = c.qid
      ORDER BY c.qid
    """.stripMargin.trim))

  /** The ENGAGED AuditGuard branch as a standing green row (r16
    * verdict, What's wrong #3): at every driver SF the corpus is
    * ≤4,000 rows, so the oracle only ever exercised the guard's
    * exhaustive branch — the sampled branch was verified by spec
    * arithmetic and a one-off ×10 cross-engine spot check, not a gate.
    * This query builds a FIXED 6,000-row frame in-query (a generated
    * id sequence joined back to the corpus embeddings by id mod
    * corpus-count), so `modulus = floor(6000/2000) = 3 > 1` engages at
    * sf0.001/0.01/0.1 alike, and runs a bucket-scoped exact cosine
    * audit over the hash-systematic sample — the guard's real query
    * shape, checked against the identical [[AuditGuard.sqlPred]]
    * predicate in DuckDB. Output: per id-mod-7 group, the audited
    * cardinality, pair count, and the integer-quantized cosine mass.
    *
    * Scale shape: the frame is a CONSTANT 6,000 rows at any corpus
    * size (the generated sequence fixes it), buckets are fixed at 50
    * (120 rows each), and the pair frame is a keyed equi-join on
    * bucket bounded at ~2,000 × 119 rows — the query costs the same
    * at 100 TB as at sf0.001.
    */
  val auditGuardEngagedParity: QueryDef = QueryDef(
    "audit_guard_engaged_parity",
    (s, dir) => {
      val N = 6000L; val B = 50
      val e = index(s, dir).select(col("vec_id"), col("embedding"), col("nrm"))
      val ecnt = e.agg(count(lit(1)).as("ecnt"))
      val frame = s.range(N).toDF("id")
        .crossJoin(broadcast(ecnt))
        .withColumn("vec_id", pmod(col("id"), col("ecnt")))
        .join(e, "vec_id")
        .withColumn("bucket", pmod(col("id"), lit(B.toLong)))
        .select("id", "bucket", "embedding", "nrm")
      val qs = AuditGuard.sample(frame, "id")
        .select(col("id").as("qid"), col("bucket"),
          col("embedding").as("qe"), col("nrm").as("qn"))
      val cs = frame.select(col("id").as("cid"), col("bucket"),
        col("embedding").as("ce"), col("nrm").as("cn"))
      qs.join(cs, "bucket")
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"),
          floor(lit(1000000.0) * expr("float_dot(qe, ce)")
            / (col("qn") * col("cn"))).cast("long").as("cos_e6"))
        .groupBy(pmod(col("qid"), lit(7L)).as("grp"))
        .agg(countDistinct(col("qid")).as("n_audited"),
          count(lit(1)).as("n_pairs"),
          sum(col("cos_e6")).as("sum_cos_e6"))
        .orderBy("grp")
    },
    Some(s"""
      WITH ${normCteSql("emb", "vec_id, embedding")},
      frame AS (
        SELECT t.range AS id, t.range % 50 AS bucket, e.embedding, e.nrm
        FROM range(0, 6000) t
        JOIN emb e ON e.vec_id = t.range % (SELECT COUNT(*) FROM embeddings)),
      q AS (SELECT * FROM frame WHERE ${AuditGuard.sqlPred("id", "frame")}),
      pairs AS (
        SELECT q.id AS qid,
               CAST(FLOOR(1000000.0 *
                 ${cosSql("q", "c")}) AS BIGINT) AS cos_e6
        FROM q JOIN frame c ON q.bucket = c.bucket AND q.id != c.id)
      SELECT CAST(qid % 7 AS BIGINT) AS grp,
             CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_audited,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(cos_e6) AS BIGINT) AS sum_cos_e6
      FROM pairs
      GROUP BY 1
      ORDER BY grp
    """.stripMargin.trim))

  val defs: Seq[QueryDef] =
    Seq(bruteForce, ivfLabel, ivfPrebuilt, hyperplaneLsh, lshPrebuilt,
      int8QuantError, ivfMultiprobe, ivfAssignDelta, knnGraph, knnGraphDelta,
      knnGraphDeltaReverse, knnGraphDeltaApply, knnGraphCapped, knnGraphCrossCell,
      recallKnnCapped, kmeansTrain, pqAdcTopk, rqReconGain,
      ivfAdcTopk, ivfAdcPrebuilt, ivfAdcBatch, knnGraphGreedy, knnGraphGreedyBatch,
      recallGreedy, auditGuardEngagedParity)
}
