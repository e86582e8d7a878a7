package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{QueryDef, Tables}
import graft.functions.VectorExpressions.{cosSql, normCteSql, topkCteSql}

/** End-to-end training-data-pipeline compositions: the queries a curation
  * team actually runs, built from the primitive operators (near-dup
  * pairs, connected components, ANN) rather than re-derived — each reuses
  * the shared helper and its SQL twin so the oracle stays independent.
  */
object PipelineCompositions {

  /** The recall gates' shared twins over AnnSearch's vocabulary: the norm
    * CTE with the IVF label, the brute-force top-5 ground truth `exact`,
    * and the IVF probe pairs `iscored`. */
  private lazy val labeledNormCteSql = normCteSql("e", "vec_id, label, embedding")
  private lazy val exactTop5Sql = s"""${AnnSearch.probeScoredSql("scored", "e", "")},
      ${topkCteSql("exact", "scored", 5)}"""
  private lazy val ivfScoredSql = AnnSearch.probeScoredSql("iscored", "e", " AND q.label = c.label")

  /** Recall@5 per query of an approximate top-5 (aqid, acand) against the
    * exact brute-force top-5 (qid, cand_id, ...) — every recall gate's
    * Spark side. */
  private def recallAt5(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("qid"), col("cand_id"))
      .join(approx, col("qid") === col("aqid") && col("cand_id") === col("acand"), "left")
      .groupBy("qid")
      .agg(
        count(col("acand")).as("n_hits"),
        (count(col("acand")).cast("double") / lit(5.0)).as("recall_at_5"))
      .orderBy("qid")

  /** An AnnSearch top-5 as the approximate side of [[recallAt5]]. */
  private def asApprox(top5: DataFrame): DataFrame =
    top5.select(col("qid").as("aqid"), col("cand_id").as("acand"))

  /** The recall gates' twin: `ctes` (defining `exact` and `approx`), then
    * recall@5 per query. */
  private def recallAt5Sql(ctes: String): String = s"""
      WITH $ctes
      SELECT e.qid,
             COUNT(a.cand_id) AS n_hits,
             CAST(COUNT(a.cand_id) AS DOUBLE) / 5.0 AS recall_at_5
      FROM exact e
      LEFT JOIN approx a ON e.qid = a.qid AND e.cand_id = a.cand_id
      GROUP BY e.qid
      ORDER BY e.qid
    """.stripMargin.trim

  /** Canonical-document selection: one keeper per near-dup component —
    * the longest document wins (doc_id breaks ties), everything else is
    * scheduled for drop. This is the decision step that follows
    * dedup_cluster_components in a real pipeline.
    */
  val keepBest: QueryDef = QueryDef(
    "pipeline_dedup_keep_best",
    (s, dir) => {
      // probe the pinned pair-surface index (built once per corpus) —
      // curation steps never recompute the pair graph in production
      val labels = Dedup.pairSurface(s, dir)._2
      val w = Window.partitionBy("component_id")
        .orderBy(desc("n_chars"), asc("doc_id"))
      labels.join(Tables.documents(s, dir).select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", row_number().over(w))
        .groupBy("component_id")
        .agg(
          min(when(col("rn") === 1, col("doc_id"))).as("keeper_doc_id"),
          count(lit(1)).as("n_members"),
          (count(lit(1)) - 1).as("n_dropped"))
        .orderBy("component_id")
    },
    Some(s"""
      WITH RECURSIVE ${Dedup.componentLabelsSql},
      ranked AS (
        SELECT c.component_id, c.doc_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.component_id
                 ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
        FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
      SELECT component_id,
             MIN(CASE WHEN rn = 1 THEN doc_id END) AS keeper_doc_id,
             COUNT(*) AS n_members,
             CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
      FROM ranked
      GROUP BY component_id
      ORDER BY component_id
    """.stripMargin.trim))

  /** Cross-source contamination: near-dup pairs whose documents come from
    * different sources (e.g. a benchmark set leaking into training data),
    * aggregated per canonicalized source pair.
    */
  val crossSource: QueryDef = QueryDef(
    "pipeline_cross_source_contamination",
    (s, dir) => {
      val src = Tables.documents(s, dir).select("doc_id", "source")
      Dedup.pairSurface(s, dir)._1
        .join(src.as("da"), col("ia") === col("da.doc_id"))
        .join(src.as("db"), col("ib") === col("db.doc_id"))
        .filter(col("da.source") =!= col("db.source"))
        .select(
          least(col("da.source"), col("db.source")).as("src_a"),
          greatest(col("da.source"), col("db.source")).as("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_contaminated_pairs"))
        .orderBy("src_a", "src_b")
    },
    Some(s"""
      WITH ${Dedup.jaccardPairsSql}
      SELECT least(da.source, db.source) AS src_a,
             greatest(da.source, db.source) AS src_b,
             COUNT(*) AS n_contaminated_pairs
      FROM jp
      JOIN documents da ON jp.ia = da.doc_id
      JOIN documents db ON jp.ib = db.doc_id
      WHERE da.source <> db.source
      GROUP BY 1, 2
      ORDER BY src_a, src_b
    """.stripMargin.trim))

  /** Cross-modality dedup agreement: the same corpus deduped by text
    * (word-3-gram Jaccard ≥ 0.5) and by embedding (cosine ≥ 0.4), pair
    * sets compared — the curation question of whether the cheap text
    * path can stand in for the expensive embedding path (and where they
    * disagree). doc_id and vec_id are the same identifier space.
    * As the whitelisted all-pairs recall oracle (r15 decade exponent
    * 1.71) both pair sets carry the [[AuditGuard]] ABOVE 4k corpus
    * rows: the embedding arm inherits it from
    * [[Dedup.embeddingCosine]], and the text arm filters its `ia`
    * anchors with the SAME embeddings census so the two audited pair
    * universes stay aligned (a pair counted "text-only" must be one the
    * embedding audit could have seen). Verification SFs unchanged.
    */
  val modalityAgreement: QueryDef = QueryDef(
    "pipeline_modality_agreement",
    (s, dir) => {
      val txt = AuditGuard.sample(
          Dedup.pairSurface(s, dir)._1.select(col("ia"), col("ib")),
          "ia", graft.Tables.embeddings(s, dir))
        .withColumn("in_text", lit(true))
      val emb = Dedup.embeddingCosine.run(s, dir)
        .select(col("ia").as("ea"), col("ib").as("eb")).withColumn("in_emb", lit(true))
      txt.join(emb, col("ia") === col("ea") && col("ib") === col("eb"), "full_outer")
        .select(
          coalesce(col("in_text"), lit(false)).as("text_dup"),
          coalesce(col("in_emb"), lit(false)).as("emb_dup"))
        .groupBy("text_dup", "emb_dup")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("text_dup", "emb_dup")
    },
    Some(s"""
      WITH ${Dedup.jaccardPairsSql},
      ${normCteSql("e", "vec_id, embedding")},
      ep AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE ${cosSql("a", "b")} >= 0.4
          AND ${AuditGuard.sqlPred("a.vec_id", "embeddings")}),
      jpa AS (
        SELECT ia, ib FROM jp
        WHERE ${AuditGuard.sqlPred("ia", "embeddings")}),
      agr AS (
        SELECT jpa.ia IS NOT NULL AS text_dup, ep.ia IS NOT NULL AS emb_dup
        FROM jpa FULL OUTER JOIN ep ON jpa.ia = ep.ia AND jpa.ib = ep.ib)
      SELECT text_dup, emb_dup, COUNT(*) AS n_pairs
      FROM agr GROUP BY 1, 2
      ORDER BY text_dup, emb_dup
    """.stripMargin.trim))

  /** Recall@5 of the hyperplane-LSH index against the exact brute-force
    * ranking, per query point — the measurement that decides whether an
    * ANN index is good enough to replace the exact scan at 100 TB.
    * Composed from the two AnnSearch queries (identical scoring exprs),
    * so the number is the true recall of the shipped index.
    */
  val annRecall: QueryDef = QueryDef(
    "ann_recall_lsh_vs_exact",
    (s, dir) => recallAt5(AnnSearch.bruteForce.run(s, dir),
      asApprox(AnnSearch.hyperplaneLsh.run(s, dir))),
    Some(recallAt5Sql(s"""${normCteSql("e", "vec_id, embedding")},
      $exactTop5Sql,
      ${AnnSearch.sigCtesSql},
      ${AnnSearch.probeScoredSql("lscored", "es", " AND q.sig = c.sig")},
      ${topkCteSql("approx", "lscored", 5)}""")))

  /** Recall@5 of the IVF label-pruned probe against exact brute force —
    * the twin measurement to ann_recall_lsh_vs_exact, so BOTH shipped
    * index structures carry their own quality gate. Probes the prebuilt
    * pinned index (probe-only cost, like production).
    */
  val annRecallIvf: QueryDef = QueryDef(
    "ann_recall_ivf_vs_exact",
    (s, dir) => recallAt5(AnnSearch.bruteForce.run(s, dir),
      asApprox(AnnSearch.ivfPrebuilt.run(s, dir))),
    Some(recallAt5Sql(s"""$labeledNormCteSql,
      $exactTop5Sql,
      $ivfScoredSql,
      ${topkCteSql("approx", "iscored", 5)}""")))

  /** Recall@5 of the multiprobe IVF (nprobe = 2) against exact brute
    * force — the measurement that justifies the extra probe: single-probe
    * IVF loses every neighbor outside the query's own cluster, and this
    * gate shows how much of that loss two probes buy back, per query.
    * Read next to `ann_recall_ivf_vs_exact`: the pair quantifies the
    * recall/cost dial an operator turns at 100 TB (probe count scales
    * candidate volume linearly; the index itself is untouched).
    */
  val annRecallIvfMultiprobe: QueryDef = QueryDef(
    "ann_recall_ivf_multiprobe_vs_exact",
    (s, dir) => recallAt5(AnnSearch.bruteForce.run(s, dir),
      asApprox(AnnSearch.ivfMultiprobe.run(s, dir))),
    Some(recallAt5Sql(s"""$labeledNormCteSql,
      $exactTop5Sql,
      ${AnnSearch.multiprobeCtesSql("mscored")},
      ${topkCteSql("approx", "mscored", 5)}""")))

  /** Per-source document quota: keep the top-N documents per source
    * (longest first, doc_id tie-break) — the frequency-capping step that
    * stops one crawl domain from dominating a training mix. Runs through
    * the NATIVE TopKPerKeyExec operator (graft.plans.TopK): the heap
    * prunes each source to N rows in one pass (no per-source sort, spill
    * fallback for unbounded source cardinality), then a window over the
    * N-row groups assigns the final ranks — the prune-before-rank shape
    * the operator exists for, here oracle-checked inside an actual
    * pipeline query rather than only in the window-battery twins.
    */
  val sourceQuota: QueryDef = QueryDef(
    "pipeline_source_quota_topk",
    (s, dir) => {
      val pruned = graft.plans.TopK.perKey(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        keyCols = Seq("source"), order = Seq(("n_chars", false), ("doc_id", true)), k = 3)
      val w = Window.partitionBy("source").orderBy(desc("n_chars"), asc("doc_id"))
      pruned.withColumn("rank", row_number().over(w).cast("long"))
        .select(col("source"), col("rank"), col("doc_id"), col("n_chars"))
        .orderBy("source", "rank")
    },
    Some("""
      WITH ranked AS (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY n_chars DESC, doc_id ASC) AS rank
        FROM documents)
      SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_chars
      FROM ranked
      WHERE rank <= 3
      ORDER BY source, rank
    """.stripMargin.trim))

  /** Recall@5 of int8-quantized cosine against full-precision cosine —
    * the quality gate for the 4×-compression path
    * (ann_int8_quantization_error measures reconstruction error; this
    * measures what actually matters downstream: whether the quantized
    * index returns the same neighbors). Same exact-vs-approx join shape
    * as the LSH/IVF recall twins.
    */
  val annRecallInt8: QueryDef = QueryDef(
    "ann_recall_int8_vs_exact",
    (s, dir) => {
      val exact = AnnSearch.bruteForce.run(s, dir)
      val e = Tables.embeddings(s, dir)
        .withColumn("dq", expr(
          s"transform(embedding, x -> ${AnnSearch.int8Dequant(AnnSearch.int8Quant("x"))})"))
        .withColumn("nrm", expr(
          "sqrt(aggregate(zip_with(dq, dq, (a, b) -> a * b), 0.0D, (acc, x) -> acc + x))"))
        .select("vec_id", "dq", "nrm")
        .localCheckpoint(true) // both sides of the probe join
      val w = Window.partitionBy("aqid").orderBy(desc("cos"), asc("acand"))
      val approx = broadcast(e.filter(col("vec_id") < 10)).as("q")
        .join(e.as("c"), col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("aqid"), col("c.vec_id").as("acand"),
          (expr("aggregate(zip_with(q.dq, c.dq, (a, b) -> a * b), 0.0D, (acc, x) -> acc + x)")
            / (col("q.nrm") * col("c.nrm"))).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("aqid", "acand")
      recallAt5(exact, approx)
    },
    Some(recallAt5Sql(s"""${normCteSql("e", "vec_id, embedding")},
      $exactTop5Sql,
      qn AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> ${AnnSearch.int8DequantSql(AnnSearch.int8QuantSql("x"))}) AS dq
        FROM embeddings),
      qe AS (
        SELECT vec_id, dq,
               sqrt(list_reduce(list_transform(dq, x -> x * x), (x, y) -> x + y)) AS nrm
        FROM qn),
      qscored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cand_id,
               list_reduce(list_transform(generate_series(1, len(q.dq)),
                 i -> q.dq[CAST(i AS INT)] * c.dq[CAST(i AS INT)]),
                 (x, y) -> x + y) / (q.nrm * c.nrm) AS cos
        FROM qe q JOIN qe c ON q.vec_id < 10 AND q.vec_id != c.vec_id),
      ${topkCteSql("approx", "qscored", 5)}""")))

  /** Benchmark decontamination (the GPT-3/Gopher-style n-gram scrub,
    * word-8-grams here): every training document sharing any 8-gram
    * with the eval/benchmark source is flagged with its overlap volume
    * — the step that keeps test sets out of a training mix.
    *
    * Scale shape: the benchmark side is structurally tiny next to a
    * 100 TB training corpus, so its n-gram table is BROADCAST and the
    * probe is a map-side hash join on the n-gram — the training corpus
    * is never shuffled. (At sf0.01 both sides are small; the hint keeps
    * the plan's shape what it would be at scale.)
    */
  val decontaminate: QueryDef = QueryDef(
    "pipeline_benchmark_decontaminate",
    (s, dir) => {
      // r9: per-doc n-gram dedup is array_distinct INSIDE the row —
      // doc_id is unique per row, so DISTINCT(doc_id, source, ng) equals
      // the per-row array dedup, and the former corpus-wide .distinct()
      // (a shuffle of every 8-gram string — the exact thing this query's
      // scale note promises never happens to the training side) is gone.
      // The training corpus now flows scan → explode → broadcast-probe
      // with ZERO shuffles before the overlap-only aggregation; the
      // bench side is a second, source-pruned scan (filter pushed down)
      // instead of a checkpointed corpus materialization.
      def ngOf(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("ts"))
        .filter(size(col("ts")) >= 8)
        .select(col("doc_id"), col("source"), explode(array_distinct(expr(
          "transform(sequence(1, size(ts) - 7), i -> array_join(slice(ts, i, 8), ' '))"))).as("ng"))
      val docs = Tables.documents(s, dir)
      val bench = ngOf(docs.filter(col("source") === "src0"))
        .select(col("ng"), col("doc_id").as("bench_doc"))
      val train = ngOf(docs.filter(col("source") =!= "src0")).select("doc_id", "ng")
      train.join(broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(
          countDistinct(col("ng")).as("n_overlap_ngrams"),
          countDistinct(col("bench_doc")).as("n_benchmark_docs"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t0 AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
      ng AS (SELECT DISTINCT doc_id, source,
                    array_to_string(ts[CAST(i AS INT):CAST(i AS INT)+7], ' ') AS ng
             FROM (SELECT doc_id, source, ts, unnest(range(1, len(ts) - 6)) AS i
                   FROM t0 WHERE len(ts) >= 8) x),
      bench AS (SELECT ng, doc_id AS bench_doc FROM ng WHERE source = 'src0'),
      train AS (SELECT doc_id, ng FROM ng WHERE source <> 'src0')
      SELECT t.doc_id,
             CAST(COUNT(DISTINCT t.ng) AS BIGINT) AS n_overlap_ngrams,
             CAST(COUNT(DISTINCT b.bench_doc) AS BIGINT) AS n_benchmark_docs
      FROM train t JOIN bench b ON t.ng = b.ng
      GROUP BY t.doc_id
      ORDER BY t.doc_id
    """.stripMargin.trim))

  /** The per-source corpus DATA CARD — the datasheet a curation team
    * publishes with a training mixture, composed entirely from the
    * family's ONE-definition helpers so no number on the card can drift
    * from the operator that owns it: volume (docs/chars/ws-tokens),
    * near-dup exposure (share of docs in ≥1 LSH candidate pair —
    * [[graft.operators.Dedup.lshCandsFromSketch]] + the interpolated
    * `lshCandsSql` twin), dominant predicted language with its share
    * (TextAnalysis.withLangPred / langPredSql — the same classifier the
    * confusion audit calibrates), and the deterministic PPS audit-sample
    * mass (ScalePatterns' integer-hex uniform). Every branch is a keyed
    * aggregate or broadcast-scalar join over frames already proven
    * scale-safe by their owning operators; the card itself adds four
    * source-keyed joins over |sources| rows.
    */
  val dataCard: QueryDef = QueryDef(
    "pipeline_data_card",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val perSrc = docs
        .select(col("source"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"), sum(col("n_tok")).as("n_tokens"))
      val dup = docs.select("doc_id", "source")
        .join(Dedup.dupDocIdsGuarded(s, dir), Seq("doc_id"), "left_semi")
        .groupBy("source").agg(count(lit(1)).as("n_dup"))
      val topLang = graft.functions.TextAnalysis.withLangPred(docs)
        .groupBy(col("source"), col("lang_pred")).agg(count(lit(1)).as("nl"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(desc("nl"), asc("lang_pred"))))
        .filter(col("rn") === 1)
        .select(col("source"), col("lang_pred").as("top_lang"), col("nl"))
      val withV = docs.select(col("source"), col("n_chars"),
        expr(ScalePatterns.hexIntSpark("md5(CAST(CAST(doc_id AS STRING) AS BINARY))")).as("v"))
      val tot = withV.agg(sum(col("n_chars")).as("w_corpus"))
      val pps = withV.crossJoin(broadcast(tot))
        .filter(ScalePatterns.ppsPicked(col("v"), col("w_corpus"), col("n_chars")))
        .groupBy("source").agg(count(lit(1)).as("n_pps"), sum(col("n_chars")).as("pps_chars"))
      perSrc
        .join(dup, Seq("source"), "left")
        .join(topLang, Seq("source"), "left")
        .join(pps, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_chars"), col("n_tokens"),
          (coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_docs")).as("dup_rate"),
          col("top_lang"),
          (col("nl").cast("double") / col("n_docs")).as("top_lang_share"),
          coalesce(col("n_pps"), lit(0L)).as("n_pps"),
          coalesce(col("pps_chars"), lit(0L)).as("pps_chars"))
        .orderBy("source")
    },
    Some(s"""
      WITH ${Dedup.lshCandsSql},
      base AS (
        SELECT source, doc_id, n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      per_src AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM base GROUP BY 1),
      dupd AS (SELECT ia AS doc_id FROM cand UNION SELECT ib FROM cand),
      dup AS (
        SELECT source, COUNT(*) AS n_dup FROM documents
        WHERE doc_id IN (SELECT doc_id FROM dupd) GROUP BY 1),
      lang AS (
        SELECT d.source, p.lang_pred, COUNT(*) AS nl
        FROM (${graft.functions.TextAnalysis.langPredSql}) p
        JOIN documents d ON p.doc_id = d.doc_id
        GROUP BY 1, 2),
      topl AS (
        SELECT source, lang_pred AS top_lang, nl
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                ORDER BY nl DESC, lang_pred ASC) AS rn FROM lang) t
        WHERE rn = 1),
      ppsd AS (
        SELECT source, n_chars,
               ${ScalePatterns.hexIntDuck("md5(CAST(doc_id AS VARCHAR))")} AS v
        FROM documents),
      ptot AS (SELECT SUM(n_chars) AS w_corpus FROM ppsd),
      pps AS (
        SELECT source, COUNT(*) AS n_pps,
               CAST(SUM(n_chars) AS BIGINT) AS pps_chars
        FROM ppsd CROSS JOIN ptot
        WHERE ${ScalePatterns.ppsPickedDuck("v", "w_corpus", "n_chars")}
        GROUP BY 1)
      SELECT p.source, n_docs, n_chars, n_tokens,
             CAST(COALESCE(n_dup, 0) AS DOUBLE) / n_docs AS dup_rate,
             top_lang,
             CAST(nl AS DOUBLE) / n_docs AS top_lang_share,
             COALESCE(n_pps, 0) AS n_pps,
             CAST(COALESCE(pps_chars, 0) AS BIGINT) AS pps_chars
      FROM per_src p
      LEFT JOIN dup USING (source)
      LEFT JOIN topl USING (source)
      LEFT JOIN pps USING (source)
      ORDER BY source
    """.stripMargin.trim))

  /** Split-leakage audit: near-duplicate pairs whose two documents land
    * in DIFFERENT train/val/test splits — the eval-contamination channel
    * hash-threshold splitting cannot close (membership is per-doc, but
    * near-dups are per-PAIR: a test doc's near-twin in train leaks the
    * answer). Composes the two owning definitions verbatim —
    * [[Dedup.lshCandsFromSketch]] (+ `lshCandsSql` twin) for pairs and
    * [[CorpusOps.splitOf]] for membership — so the audit can never
    * disagree with the operators it audits. Scale shape: the pair set is
    * LSH-bounded; the split lookup is two doc_id-keyed joins of that
    * small pair frame against a 2-column projection of the corpus; the
    * cross-split rows are the re-dedup worklist a release runs before
    * freezing an eval set.
    */
  val splitLeakage: QueryDef = QueryDef(
    "pipeline_split_leakage_audit",
    (s, dir) => {
      val pairs = Dedup.lshCandsFromSketch(s, dir)
      val splits = Tables.documents(s, dir)
        .select(col("doc_id"), CorpusOps.splitOf(col("doc_id")).as("split"))
      pairs
        .join(splits.select(col("doc_id").as("ia"), col("split").as("sa")), "ia")
        .join(splits.select(col("doc_id").as("ib"), col("split").as("sb")), "ib")
        .groupBy(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaks", col("split_a") =!= col("split_b"))
        .orderBy("split_a", "split_b")
    },
    Some(s"""
      WITH ${Dedup.lshCandsSql},
      splits AS (
        SELECT doc_id, ${CorpusOps.splitOfDuck("doc_id")} AS split
        FROM documents)
      SELECT LEAST(a.split, b.split) AS split_a,
             GREATEST(a.split, b.split) AS split_b,
             COUNT(*) AS n_pairs,
             LEAST(a.split, b.split) <> GREATEST(a.split, b.split) AS leaks
      FROM cand
      JOIN splits a ON cand.ia = a.doc_id
      JOIN splits b ON cand.ib = b.doc_id
      GROUP BY 1, 2
      ORDER BY split_a, split_b
    """.stripMargin.trim))

  /** Dedup funnel: the stage-survival table a curation run publishes —
    * corpus → exact dedup (md5 keep-smallest-id) → near-dup dedup (drop
    * the LATER side of every LSH candidate pair among exact survivors,
    * the keep-earliest discipline) — with doc/token mass and retained
    * ppm per stage. Near-dup candidates come from
    * [[Dedup.lshCandsFromSketch]] (+ `lshCandsSql` twin), THE pair
    * definition, so funnel numbers cannot disagree with the dedup
    * operators. Shape: one hash agg for exact groups, the LSH-bounded
    * pair probe, two anti-join-shaped semi-filters, a 3-row summary —
    * the corpus text is scanned, hashed, and never shuffled as payload.
    */
  val dedupFunnel: QueryDef = QueryDef(
    "pipeline_dedup_funnel",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tokens"),
          md5(col("text").cast("binary")).as("h"))
        .localCheckpoint(true) // feeds all three stage aggregates
      val exactKeep = docs
        .withColumn("keep_id", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("h")))
        .filter(col("doc_id") === col("keep_id"))
        .select("doc_id", "tokens")
      val nearDrops = Dedup.lshCandsFromSketch(s, dir)
        .join(exactKeep.select(col("doc_id").as("ia")), "ia", "left_semi")
        .join(exactKeep.select(col("doc_id").as("ib")), "ib", "left_semi")
        .select(col("ib").as("doc_id")).distinct()
      val nearKeep = exactKeep.join(nearDrops, Seq("doc_id"), "left_anti")
      def stage(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("tokens"))
          .select(lit(name).as("stage"), col("n_docs"), col("tokens"))
      stage("0_corpus", docs.select("doc_id", "tokens"))
        .unionByName(stage("1_exact", exactKeep))
        .unionByName(stage("2_neardup", nearKeep))
        // wide-integer ppm (the stats_ks_drift discipline): tokens·10⁶
        // would wrap int64 silently in Spark past ~9·10¹² corpus tokens
        .withColumn("retained_ppm", expr(
          "CAST((CAST(tokens AS DECIMAL(38,0)) * 1000000) DIV MAX(tokens) OVER () AS BIGINT)"))
        .orderBy("stage")
    },
    Some(s"""
      WITH ${Dedup.lshCandsSql},
      d AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
               md5(text) AS h
        FROM documents),
      exact_keep AS (
        SELECT doc_id, tokens
        FROM (SELECT doc_id, tokens,
                     MIN(doc_id) OVER (PARTITION BY h) AS keep_id FROM d) t
        WHERE doc_id = keep_id),
      near_drops AS (
        SELECT DISTINCT cand.ib AS doc_id
        FROM cand
        JOIN exact_keep a ON cand.ia = a.doc_id
        JOIN exact_keep b ON cand.ib = b.doc_id),
      near_keep AS (
        SELECT doc_id, tokens FROM exact_keep
        WHERE doc_id NOT IN (SELECT doc_id FROM near_drops)),
      stages AS (
        SELECT '0_corpus' AS stage, COUNT(*) AS n_docs,
               CAST(SUM(tokens) AS BIGINT) AS tokens FROM d
        UNION ALL
        SELECT '1_exact', COUNT(*), CAST(SUM(tokens) AS BIGINT) FROM exact_keep
        UNION ALL
        SELECT '2_neardup', COUNT(*), CAST(SUM(tokens) AS BIGINT) FROM near_keep)
      SELECT stage, n_docs, tokens,
             CAST((CAST(tokens AS HUGEINT) * 1000000) // MAX(tokens) OVER () AS BIGINT) AS retained_ppm
      FROM stages
      ORDER BY stage
    """.stripMargin.trim))

  /** Weak-supervision label model (the Snorkel-style labeling-function
    * vote): three deterministic rules each emit +1 (keep), 0 (drop), or
    * ABSTAIN (null) per document —
    *   lf_tech:    mentions a technical query term → keep; abstains on
    *               short docs it cannot judge;
    *   lf_length:  very short docs → drop, long docs → keep, abstains
    *               in between;
    *   lf_repeat:  low distinct-token ratio (< 1/4) → drop, abstains
    *               otherwise —
    * fused by majority vote among non-abstaining rules (ties → no
    * label). Output per source: coverage (≥1 vote), label split,
    * conflict rate — the audit that tells you whether the rule set is
    * worth training a label model on, before any LLM labeling spend.
    * One scan, all rules are codegen'd CASE expressions, one rollup.
    */
  val ruleVotes: QueryDef = QueryDef(
    "pipeline_rule_votes_label",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          split(col("text"), " ").as("ts"), col("text"))
        .withColumn("n_toks", size(col("ts")).cast("long"))
        .withColumn("lf_tech", expr(
          """CASE WHEN n_toks < 5 THEN NULL
                  WHEN text LIKE '%vector%' OR text LIKE '%stream%'
                    OR text LIKE '%spark%' THEN 1 ELSE 0 END"""))
        .withColumn("lf_length", expr(
          "CASE WHEN n_toks < 8 THEN 0 WHEN n_toks >= 40 THEN 1 ELSE NULL END"))
        .withColumn("lf_repeat", expr(
          """CASE WHEN size(array_distinct(ts)) * 4 < n_toks THEN 0
                  ELSE NULL END"""))
        .withColumn("n_votes", expr(
          """CASE WHEN lf_tech IS NULL THEN 0 ELSE 1 END +
             CASE WHEN lf_length IS NULL THEN 0 ELSE 1 END +
             CASE WHEN lf_repeat IS NULL THEN 0 ELSE 1 END"""))
        .withColumn("n_keep", expr(
          "COALESCE(lf_tech, 0) + COALESCE(lf_length, 0) + COALESCE(lf_repeat, 0)"))
        .withColumn("label", expr(
          """CASE WHEN n_votes = 0 OR 2 * n_keep = n_votes THEN NULL
                  WHEN 2 * n_keep > n_votes THEN 1 ELSE 0 END"""))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          count(when(col("n_votes") > 0, 1)).as("covered"),
          count(when(col("label") === 1, 1)).as("labeled_keep"),
          count(when(col("label") === 0, 1)).as("labeled_drop"),
          count(when(col("n_votes") > 0 && col("label").isNull, 1)).as("conflicts"))
        .orderBy("source")
    },
    Some("""
      WITH voted AS (
        SELECT source,
               CASE WHEN n_toks < 5 THEN NULL
                    WHEN text LIKE '%vector%' OR text LIKE '%stream%'
                      OR text LIKE '%spark%' THEN 1 ELSE 0 END AS lf_tech,
               CASE WHEN n_toks < 8 THEN 0 WHEN n_toks >= 40 THEN 1
                    ELSE NULL END AS lf_length,
               CASE WHEN len(list_distinct(ts)) * 4 < n_toks THEN 0
                    ELSE NULL END AS lf_repeat
        FROM (SELECT source, text, string_split(text, ' ') AS ts,
                     len(string_split(text, ' ')) AS n_toks
              FROM documents) t),
      fused AS (
        SELECT source,
               (CASE WHEN lf_tech IS NULL THEN 0 ELSE 1 END +
                CASE WHEN lf_length IS NULL THEN 0 ELSE 1 END +
                CASE WHEN lf_repeat IS NULL THEN 0 ELSE 1 END) AS n_votes,
               (COALESCE(lf_tech, 0) + COALESCE(lf_length, 0)
                + COALESCE(lf_repeat, 0)) AS n_keep
        FROM voted),
      labeled AS (
        SELECT source, n_votes,
               CASE WHEN n_votes = 0 OR 2 * n_keep = n_votes THEN NULL
                    WHEN 2 * n_keep > n_votes THEN 1 ELSE 0 END AS label
        FROM fused)
      SELECT source, COUNT(*) AS n_docs,
             COUNT(*) FILTER (WHERE n_votes > 0) AS covered,
             COUNT(*) FILTER (WHERE label = 1) AS labeled_keep,
             COUNT(*) FILTER (WHERE label = 0) AS labeled_drop,
             COUNT(*) FILTER (WHERE n_votes > 0 AND label IS NULL) AS conflicts
      FROM labeled
      GROUP BY source
      ORDER BY source
    """.stripMargin.trim))

  /** Rank-position IR evaluation of the IVF arm: recall@k says WHETHER
    * the true neighbor surfaces, MRR says WHERE — for each query, the
    * exact top-1 neighbor (brute-force ground truth) is looked up in
    * the IVF result list and scored 10⁶ DIV rank in integer ppm (0 when
    * the cluster prune lost it entirely). The corpus-level MRR rides on
    * every row as mrr_ppm = Σrr DIV n — the single number a recall/cost
    * dial sweep optimizes next to the measured nprobe cost. Pure
    * integer once the (hash-matching) cosine ranks are formed; the
    * fusion join runs over 10 query rows.
    */
  val annMrr: QueryDef = QueryDef(
    "ann_eval_mrr",
    (s, dir) => {
      val truth = AnnSearch.bruteForce.run(s, dir)
        .filter(col("rank") === 1)
        .select(col("qid"), col("cand_id").as("true_top1"))
      val approx = AnnSearch.ivfPrebuilt.run(s, dir)
        .select(col("qid").as("aqid"), col("cand_id").as("acand"),
          col("rank").as("arank"))
      truth.join(approx,
          col("qid") === col("aqid") && col("true_top1") === col("acand"),
          "left_outer")
        .select(col("qid"), col("true_top1"), col("arank").as("ivf_rank"),
          coalesce(expr("1000000 DIV arank"), lit(0L)).as("rr_ppm"))
        .withColumn("mrr_ppm", expr("SUM(rr_ppm) OVER () DIV COUNT(1) OVER ()"))
        .orderBy("qid")
    },
    Some(s"""
      WITH $labeledNormCteSql,
      ${AnnSearch.probeScoredSql("scored", "e", "")},
      ${topkCteSql("truth", "scored", 1, out = "qid, cand_id AS true_top1")},
      $ivfScoredSql,
      ${topkCteSql("approx", "iscored", 5, out = "qid, cand_id, rank")},
      fused AS (
        SELECT t.qid, t.true_top1, a.rank AS ivf_rank,
               COALESCE(1000000 // a.rank, 0) AS rr_ppm
        FROM truth t LEFT JOIN approx a
          ON t.qid = a.qid AND t.true_top1 = a.cand_id)
      SELECT qid, true_top1, CAST(ivf_rank AS BIGINT) AS ivf_rank,
             CAST(rr_ppm AS BIGINT) AS rr_ppm,
             CAST(SUM(rr_ppm) OVER () // COUNT(*) OVER () AS BIGINT) AS mrr_ppm
      FROM fused
      ORDER BY qid
    """.stripMargin.trim))

  /** Quality×duplication calibration: the curation question "are my
    * low-quality docs also my duplicated docs?" answered as a 10-band
    * table — quality band = floor(quality·10) (value-based, NO global
    * sort — the scale-safe histogram form), dup flag = membership in
    * ≥1 LSH candidate pair from THE shared sketch surface (same
    * definition `pipeline_dedup_rate_by_source` consumes). One scan +
    * one semi-join + one rollup; if the dup_ppm curve falls with
    * quality, the two filters are partially redundant and the cheaper
    * one should run first in the cascade.
    */
  val qualityDupCalibration: QueryDef = QueryDef(
    "pipeline_quality_dup_calibration",
    (s, dir) => {
      val dup = Dedup.dupDocIdsGuarded(s, dir)
      graft.functions.TextAnalysis.withQuality(Tables.documents(s, dir))
        .select(col("doc_id"),
          least(floor(col("quality") * 10).cast("long"), lit(9L)).as("band"))
        .join(dup.withColumn("is_dup", lit(1L)), Seq("doc_id"), "left_outer")
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("is_dup")), lit(0L)).as("n_dup"))
        .withColumn("dup_ppm", expr(
          "CAST((CAST(n_dup AS DECIMAL(38,0)) * 1000000) DIV n_docs AS BIGINT)"))
        .orderBy("band")
    },
    Some(s"""
      WITH ${Dedup.lshCandsSql},
      ${Dedup.dupDocsSql},
      banded AS (
        SELECT doc_id, LEAST(CAST(FLOOR(quality * 10) AS BIGINT), 9) AS band
        FROM (${graft.functions.TextAnalysis.qualitySql}) q)
      SELECT band, COUNT(*) AS n_docs,
             COUNT(d.doc_id) AS n_dup,
             CAST((CAST(COUNT(d.doc_id) AS HUGEINT) * 1000000)
                  // COUNT(*) AS BIGINT) AS dup_ppm
      FROM banded b LEFT JOIN dupd d ON b.doc_id = d.doc_id
      GROUP BY band
      ORDER BY band
    """.stripMargin.trim))

  val defs: Seq[QueryDef] =
    Seq(keepBest, crossSource, modalityAgreement, annRecall, annRecallIvf,
      annRecallIvfMultiprobe, annRecallInt8, sourceQuota, decontaminate,
      dataCard, splitLeakage, dedupFunnel, ruleVotes, annMrr,
      qualityDupCalibration)
}
