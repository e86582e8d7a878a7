package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.VectorExpressions.{dotSql, normCteSql}

/** Retrieval-ranking operators for the corpus-curation pipeline:
  * BM25-core lexical scoring and reciprocal-rank fusion of a lexical
  * and a semantic arm — the retrieval stack a data-curation loop runs
  * to mine targeted training data ("find documents like these") and
  * that RAG-style eval harnesses need over the same corpus.
  *
  * Exactness discipline: the lexical score is the BM25 TF-saturation
  * core evaluated in SCALED INTEGERS (k1 = 6/5 and b = 3/4 cleared of
  * denominators — see [[tfSaturation]]), with a log-free rarity
  * surrogate `(N − df)·10⁶ DIV (df + 1)` in place of the classical
  * log-idf: strictly decreasing in df like the log form, but exact
  * 128-bit integer arithmetic on both engines instead of a float
  * whose library log could differ in the last ulp. Fusion is pure
  * integer RRF. The only floats anywhere are the semantic arm's
  * cosines, computed by the identical left-fold IEEE sequence both
  * engines already hash-match in the ANN family — and they never
  * appear in the output, only the integer ranks derived from them.
  */
object SearchRank {

  /** Fixed query terms — THE shared set from
    * [[graft.functions.TextAnalysis.queryTerms]], so the conjunctive
    * search and both ranking operators stay comparable. */
  private val terms = graft.functions.TextAnalysis.queryTerms

  private def termList = terms.map("'" + _ + "'").mkString(", ")

  /** BM25 TF-saturation ranking, integer-exact.
    *
    * core(tf, dl) = tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) with
    * k1 = 6/5, b = 3/4; multiplying numerator and denominator by
    * 10·avgdl clears every fraction:
    *
    *   core = 22·tf·avgdl / (10·tf·avgdl + 3·avgdl + 9·dl)
    *
    * so `tfsat_ppm = (22·tf·avgdl·10⁶) DIV (10·tf·avgdl + 3·avgdl + 9·dl)`
    * is exact on both engines. Per-term score = rarity_ppm·tfsat_ppm
    * DIV 10⁶; a document's score is the sum over matched terms. All
    * products are widened to DECIMAL(38,0)/HUGEINT — tf·avgdl·10⁶
    * wraps int64 for long documents well before 100 TB.
    *
    * Scale shape: the token stream is filtered to the query terms
    * BEFORE any shuffle (the posting-list probe), df and the corpus
    * scalars (N, avgdl) are one broadcastable row each, and the final
    * top-20 is TakeOrderedAndProject (per-partition top-k, never a
    * global sort).
    */
  val tfSaturation: QueryDef = QueryDef(
    "search_tf_saturation",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          split(col("text"), " ").as("ts"))
      val docLen = toks.select(col("doc_id"), col("source"),
        size(col("ts")).cast("long").as("dl"))
      // corpus scalars: one row, broadcast
      val scalars = docLen.agg(
        count(lit(1)).as("n_docs"),
        expr("SUM(dl) DIV COUNT(1)").as("avgdl"))
      val postings = toks
        .select(col("doc_id"), explode(col("ts")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = postings.groupBy("tok").agg(count(lit(1)).as("df"))
      postings
        .join(broadcast(df), "tok")
        .join(docLen, "doc_id")
        .crossJoin(broadcast(scalars))
        .select(col("doc_id"), col("source"),
          expr("""CAST(
                    (((CAST(1000000 AS DECIMAL(38,0)) * (n_docs - df)) DIV (df + 1))
                     * ((CAST(22 AS DECIMAL(38,0)) * tf * avgdl * 1000000)
                        DIV (10 * tf * avgdl + 3 * avgdl + 9 * dl)))
                    DIV 1000000 AS BIGINT)""").as("term_score_ppm"))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_terms_hit"),
          sum(col("term_score_ppm")).as("score_ppm"))
        .orderBy(desc("score_ppm"), asc("doc_id"))
        .limit(20)
    },
    Some(s"""
      WITH dl AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS dl FROM documents),
      scal AS (
        SELECT COUNT(*) AS n_docs, SUM(dl) // COUNT(*) AS avgdl FROM dl),
      postings AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
        WHERE tok IN ($termList)
        GROUP BY 1, 2),
      dfreq AS (SELECT tok, COUNT(*) AS df FROM postings GROUP BY 1),
      scored AS (
        SELECT p.doc_id, d.source,
               CAST((((CAST(1000000 AS HUGEINT) * (n_docs - df)) // (df + 1))
                     * ((CAST(22 AS HUGEINT) * tf * avgdl * 1000000)
                        // (10 * tf * avgdl + 3 * avgdl + 9 * d.dl)))
                    // 1000000 AS BIGINT) AS term_score_ppm
        FROM postings p JOIN dfreq USING (tok) JOIN dl d USING (doc_id) CROSS JOIN scal)
      SELECT doc_id, source, COUNT(*) AS n_terms_hit,
             CAST(SUM(term_score_ppm) AS BIGINT) AS score_ppm
      FROM scored
      GROUP BY 1, 2
      ORDER BY score_ppm DESC, doc_id
      LIMIT 20
    """.stripMargin.trim))

  /** Reciprocal-rank fusion of the lexical arm (total query-term TF)
    * and a semantic arm (cosine against document 0's embedding —
    * vec_id aligns with doc_id in the testdata). Each arm is cut to
    * its top-100 by distributed top-k (TakeOrderedAndProject — never
    * a global sort), ranks are row_number over those ≤100 rows, and
    * `rrf_ppm = Σ_arms 10⁶ DIV (60 + rank)` (Cormack et al.'s k=60)
    * — a document missing from an arm simply contributes nothing.
    * The cosines order the semantic arm but are dropped before
    * output, so the emitted table is pure integers.
    *
    * At 100 TB both arms are already top-k-bounded before fusion —
    * the fusion join runs over ≤2k rows regardless of corpus size;
    * this is why RRF (rank-based) beats score-normalized fusion
    * operationally: no cross-arm score calibration pass over the
    * corpus is needed.
    */
  val hybridRrf: QueryDef = QueryDef(
    "search_hybrid_rrf",
    (s, dir) => {
      graft.functions.VectorExpressions.register(s)
      val armK = 100
      val rrfK = 60
      val kw = Tables.documents(s, dir)
        // exclude the query document from BOTH arms (the semantic arm
        // already drops vec_id 0); without this a term-bearing doc 0
        // would fuse into its own result list
        .filter(col("doc_id") =!= 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy("doc_id").agg(count(lit(1)).as("tf_total"))
        .orderBy(desc("tf_total"), asc("doc_id"))
        .limit(armK)
        .withColumn("kw_rank", row_number().over(
          Window.orderBy(desc("tf_total"), asc("doc_id"))).cast("long"))
        .select("doc_id", "kw_rank")
      val e = Tables.embeddings(s, dir).select(
        col("vec_id"), col("embedding"),
        expr("sqrt(float_dot(embedding, embedding))").as("nrm"))
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val sem = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          (expr("float_dot(embedding, q_emb)") / (col("nrm") * col("q_nrm"))).as("cos"))
        .orderBy(desc("cos"), asc("doc_id"))
        .limit(armK)
        .withColumn("sem_rank", row_number().over(
          Window.orderBy(desc("cos"), asc("doc_id"))).cast("long"))
        .select("doc_id", "sem_rank")
      kw.join(sem, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("kw_rank"), col("sem_rank"),
          (coalesce(expr(s"1000000 DIV ($rrfK + kw_rank)"), lit(0L)) +
            coalesce(expr(s"1000000 DIV ($rrfK + sem_rank)"), lit(0L))).as("rrf_ppm"))
        .orderBy(desc("rrf_ppm"), asc("doc_id"))
        .limit(20)
    },
    Some(s"""
      WITH kw0 AS (
        SELECT doc_id, COUNT(*) AS tf_total
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id <> 0) t
        WHERE tok IN ($termList)
        GROUP BY 1
        ORDER BY tf_total DESC, doc_id
        LIMIT 100),
      kw AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY tf_total DESC, doc_id) AS BIGINT) AS kw_rank
        FROM kw0),
      ${normCteSql("e", "vec_id, embedding")},
      q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id = 0),
      sem0 AS (
        SELECT vec_id AS doc_id,
               ${dotSql("embedding", "q_emb")} / (nrm * q_nrm) AS cos
        FROM e CROSS JOIN q
        WHERE vec_id <> 0
        ORDER BY cos DESC, doc_id
        LIMIT 100),
      sem AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS sem_rank
        FROM sem0)
      SELECT COALESCE(kw.doc_id, sem.doc_id) AS doc_id, kw_rank, sem_rank,
             CAST(COALESCE(1000000 // (60 + kw_rank), 0)
                  + COALESCE(1000000 // (60 + sem_rank), 0) AS BIGINT) AS rrf_ppm
      FROM kw FULL OUTER JOIN sem ON kw.doc_id = sem.doc_id
      ORDER BY rrf_ppm DESC, doc_id
      LIMIT 20
    """.stripMargin.trim))

  val defs: Seq[QueryDef] = Seq(tfSaturation, hybridRrf)
}
