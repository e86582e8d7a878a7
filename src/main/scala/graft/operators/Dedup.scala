package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.functions.VectorExpressions.{cosSql, normCteSql}
import BroadcastGuard.{Guarded, PairRowCap, ShingleRowCap}

/** Deduplication operators over the `documents` / `embeddings` tables —
  * the near-dup family a 100 TB training-data pipeline needs: exact
  * (hash-groupBy), n-gram Jaccard (inverted-index join), MinHash+LSH
  * (band-bucket join), SimHash (chunk-pigeonhole join), and
  * embedding-cosine near-dup.
  *
  * Scale design: nothing here is all-pairs-first. Pair generation always
  * goes through an equi-join key (shingle, LSH band, signature chunk) so
  * Spark executes it as a shuffled hash join keyed by content — the same
  * plan shape survives a 1000-executor cluster. Hash functions are md5
  * (bit-identical in DuckDB) so every operator is oracle-checkable.
  */
object Dedup {

  /** Distinct word 3-gram shingles per document.
    * Word shingles (not char 3-grams): the synthetic corpus has a tiny
    * character-trigram vocabulary (~380), which would make an inverted
    * index useless; word shingles give ~27k distinct keys.
    */
  private[operators] def shingles(docs: DataFrame, spread: Boolean = true): DataFrame =
    (if (spread)
      // The driver's testdata is one row group per table, so the scan is
      // one task; the shingle explode + hashing is the CPU-heavy stage and
      // must not run single-threaded behind it. A production 100 TB table
      // has thousands of splits and needs no such spread — this buys back
      // exactly the parallelism the real layout would give (measured 1.1 s
      // → 0.1 s for the shingle stage at sf0.1). Micro-batch callers pass
      // spread = false: a few-hundred-doc arrival batch costs more to
      // redistribute than to explode in place.
      docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    else docs)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ts) - 2),
          |  i -> concat_ws(' ', element_at(ts, i), element_at(ts, i + 1), element_at(ts, i + 2)))""".stripMargin))
        .as("shingle"))
      .distinct()

  private val shinglesSql: String =
    """SELECT DISTINCT doc_id,
      |       ts[CAST(p AS INT)] || ' ' || ts[CAST(p AS INT) + 1] || ' ' || ts[CAST(p AS INT) + 2] AS shingle
      |FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS p
      |      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) t0
      |      WHERE len(ts) >= 3) t""".stripMargin

  /** The ONE DuckDB definition of the sketch → LSH candidate chain
    * (sh → mh → bands → cand), interpolated into every oracle that
    * consumes LSH candidates (`dedup_minhash_lsh`,
    * `dedup_minhash_estimate_quality`, the two cross-source governance
    * queries) so the sketch definition structurally cannot drift
    * between them. Defined before its first consumer: object vals
    * initialize in declaration order.
    */
  /** The sh + mh prefix of the chain alone — consumed by [[lshCandsSql]]
    * and by the band-layout sweep, which re-bands the SAME signatures.
    */
  private[operators] val shMhSql: String =
    s"""sh AS ($shinglesSql),
      mh AS (
        SELECT doc_id, CAST(i.range AS INT) AS i,
               min(md5(CAST(i.range AS VARCHAR) || ':' || shingle)) AS h
        FROM sh CROSS JOIN range(0, 16) i
        GROUP BY 1, 2)"""

  private[operators] val lshCandsSql: String =
    s"""$shMhSql,
      bands AS (
        SELECT doc_id, CAST(i // 4 AS INT) AS band,
               md5(concat_ws(',',
                 max(CASE WHEN i % 4 = 0 THEN h END),
                 max(CASE WHEN i % 4 = 1 THEN h END),
                 max(CASE WHEN i % 4 = 2 THEN h END),
                 max(CASE WHEN i % 4 = 3 THEN h END))) AS bkey
        FROM mh GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"""

  /** Exact dedup: canonical doc per identical text (hash-groupBy). */
  val exact: QueryDef = QueryDef(
    "dedup_exact",
    (s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text").cast("binary")).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy("keeper_doc_id")
    },
    Some("""
      SELECT md5(text) AS content_hash,
             min(doc_id) AS keeper_doc_id,
             count(*) AS n_copies
      FROM documents
      GROUP BY md5(text)
      ORDER BY keeper_doc_id
    """.stripMargin.trim))

  /** Near-dup pairs (ia < ib) with exact word-3-gram Jaccard ≥ 0.5, via
    * inverted-index self-join on shingles (shuffle keyed by shingle; no
    * all-pairs stage). Shared by dedup_ngram_jaccard, the cluster step,
    * and the cross-source contamination query.
    */
  private[operators] def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsFromShingles(shingleSurface(s, dir))

  /** Core pair generator over any (doc_id, text) frame.
    *
    * `maxDocFreq` is the stop-shingle / document-frequency cap — the
    * 100 TB knob: a shingle present in more than this many documents is
    * dropped from candidate generation entirely (its posting list would
    * contribute O(df²) pairs while carrying ~no similarity signal —
    * boilerplate headers, licence text). Capping changes inter counts,
    * i.e. it is an explicit recall/scale trade — so the DEFAULT is
    * no-cap and the oracle-checked queries run uncapped; DedupCapSpec
    * pins the bounded-candidate behavior under a hot shingle.
    *
    * When a cap is set, hot shingles are removed from the vocabulary
    * BEFORE both the intersection counts and the per-doc sizes, so the
    * score is a true Jaccard over the capped vocabulary — not the
    * deflated hybrid (capped numerator / uncapped denominator) a
    * numerator-only cap would produce.
    */
  private[operators] def jaccardPairsOf(docs: DataFrame, maxDocFreq: Int = Int.MaxValue): DataFrame =
    jaccardPairsFromShingles(
      shingles(docs).localCheckpoint(true), // referenced 2× (sizes, buckets); GC-freed, unlike cache()
      maxDocFreq)

  /** Pair surface over an ALREADY-MATERIALIZED shingle table — the entry
    * the corpus-level queries use so the session-pinned
    * [[shingleSurface]] is shared across the ngram family instead of
    * each query re-exploding the corpus (r7; same amortization as the
    * minhash [[sketchSurface]]).
    */
  private[operators] def jaccardPairsFromShingles(
      shAll: DataFrame, maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val sh =
      if (maxDocFreq == Int.MaxValue) shAll
      else cappedShingles(shAll, maxDocFreq).localCheckpoint(true)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    candidatePairsOf(sh, Int.MaxValue)
      .join(sz.as("sa"), col("ia") === col("sa.doc_id"))
      .join(sz.as("sb"), col("ib") === col("sb.doc_id"))
      .select(col("ia"), col("ib"),
        (col("inter").cast("double") / (col("sa.n") + col("sb.n") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Shingle table with over-cap (hot) shingles removed: anti-join
    * against the hot-shingle set — a tiny broadcast at any cap worth
    * setting, since by definition few shingles exceed the cap.
    */
  private[operators] def cappedShingles(sh: DataFrame, maxDocFreq: Int): DataFrame =
    sh.join(
      broadcast(sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDocFreq).select("shingle")),
      Seq("shingle"), "left_anti")

  /** Candidate (ia < ib, inter) pairs from the co-shingle surface —
    * split out so DedupCapSpec can pin the candidate-count bound the
    * df cap buys.
    *
    * Equi self-join on shingle + pair groupBy: shuffles the shingle
    * table twice but stays in plain codegen'd join/agg operators. The
    * r6 A/B (3 isolated runs each, sf0.1) measured it ~30% faster
    * single-node than a posting-list explode (one shuffle, but array
    * build/explode CPU outweighs the saved in-memory local exchange).
    * CPU skew on a hot shingle is Σd² until maxDocFreq cuts it.
    * CORRECTNESS DEPENDENCY: shingles() emits DISTINCT (doc_id, shingle)
    * rows — a duplicate would inflate inter counts; if the distinct is
    * ever removed, dedup the shingle table here.
    */
  private[operators] def candidatePairsOf(sh: DataFrame, maxDocFreq: Int): DataFrame = {
    val capped = if (maxDocFreq == Int.MaxValue) sh else cappedShingles(sh, maxDocFreq)
    capped.as("a").join(capped.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      .agg(count(lit(1)).as("inter"))
  }

  /** SQL twin of [[jaccardPairs]] — a CTE body yielding (ia, ib, jaccard). */
  private[operators] val jaccardPairsSql: String =
    s"""sh AS ($shinglesSql),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pair AS (
      |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jp AS (
      |  SELECT ia, ib, CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |  FROM pair
      |  JOIN sz sa ON sa.doc_id = ia
      |  JOIN sz sb ON sb.doc_id = ib
      |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5)""".stripMargin

  /** Exact n-gram Jaccard ≥ 0.5: the pair surface itself. Jaccard is an
    * exact BIGINT/BIGINT division → bit-identical double.
    */
  val ngramJaccard: QueryDef = QueryDef(
    "dedup_ngram_jaccard",
    (s, dir) => jaccardPairs(s, dir).orderBy("ia", "ib"),
    Some(s"""
      WITH sh AS ($shinglesSql),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pair AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT ia, ib,
             CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      FROM pair
      JOIN sz sa ON sa.doc_id = ia
      JOIN sz sb ON sb.doc_id = ib
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
      ORDER BY ia, ib
    """.stripMargin.trim))

  /** The CAPPED pair surface as an oracle-gated query: df cap = 5 (hot
    * at both verification SFs: 29 over-cap shingles at sf0.01, ~24.5k at
    * sf0.1), DuckDB twin capped identically via a HAVING on the posting
    * CTE — so the 100 TB knob's semantics (true Jaccard over the capped
    * vocabulary, r6 denominator fix included) are hash-checked, not just
    * spec-pinned.
    */
  val ngramJaccardCapped: QueryDef = QueryDef(
    "dedup_ngram_jaccard_capped",
    (s, dir) => jaccardPairsFromShingles(shingleSurface(s, dir), maxDocFreq = 5)
      .orderBy("ia", "ib"),
    Some(s"""
      WITH sh0 AS ($shinglesSql),
      hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 5),
      sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pair AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT ia, ib,
             CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      FROM pair
      JOIN sz sa ON sa.doc_id = ia
      JOIN sz sb ON sb.doc_id = ib
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
      ORDER BY ia, ib
    """.stripMargin.trim))

  /** Prefix-filter candidate pairs (SSJoin/PPJoin family: Chaudhuri et
    * al., ICDE'06; Xiao et al., WWW'08 — public algorithms): order each
    * doc's shingles by GLOBAL rarity (df asc, shingle asc — a total
    * order), keep only the first n − ⌈t·n⌉ + 1 ("the prefix"), and join
    * docs sharing a PREFIX shingle. Guarantee: J(x,y) ≥ t ⇒ overlap ≥
    * ⌈t·|x|⌉ (since |x∪y| ≥ |x|), so if all common shingles sat in x's
    * suffix (size ⌈t·n⌉ − 1) the overlap bound is violated; the least
    * common shingle in the global order is therefore in BOTH prefixes.
    * Every true pair survives; only the candidate set shrinks.
    *
    * Scale contrast with [[candidatePairsOf]] (which joins on ALL
    * shingles): candidate generation joins only prefix rows —
    * rare shingles by construction, so bucket sizes are small WITHOUT
    * the lossy df cap; the frequent-shingle mass that dominates
    * co-occurrence joins never enters the exchange. The t=0.5 prefix is
    * ~half the shingle surface, and the join output is pairs sharing a
    * RARE shingle rather than all co-occurring pairs.
    *
    * Physical shape: ONE shuffle keyed by doc_id (hash agg collecting
    * each doc's (df, shingle) pairs), with the global-rarity sort done
    * in memory per doc — docs hold hundreds of shingles, so the array
    * sort is trivially cheap, where the previous window form paid a
    * full shuffle-and-SORT of the entire shingle table plus two Window
    * passes. Candidates also carry the PPJoin LENGTH filter: J ≥ t ⇒
    * inter ≥ t·union ≥ t·max(|x|,|y|), and inter ≤ min(|x|,|y|), so
    * min ≥ t·max — pairs failing it cannot reach the threshold and are
    * dropped before the verification join ever sees them.
    */
  private[operators] def prefixCandidatePairs(sh: DataFrame, t: Double): DataFrame = {
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val prefix = sh.join(dfreq, "shingle")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("ss"))
      .select(col("doc_id"), size(col("ss")).as("n"),
        explode(expr(
          s"slice(ss, 1, cast(size(ss) - ceil(size(ss) * $t) + 1 as int))")).as("s"))
      .select(col("doc_id"), col("n"), col("s.shingle").as("shingle"))
    prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
        least(col("a.n"), col("b.n")) >= greatest(col("a.n"), col("b.n")) * t)
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      .distinct()
  }

  /** Exact Jaccard ≥ 0.5 via prefix filtering + candidate-scoped verify:
    * same result (and oracle) as `dedup_ngram_jaccard`, third physical
    * strategy. Verification reuses the estimate_quality shape — prune
    * the shingle table to candidate docs with one broadcast semi-join,
    * co-shingle-join the pruned table, semi-join back to the candidate
    * set — so the exact pass never touches non-candidate documents.
    */
  val prefixFilterJaccard: QueryDef = QueryDef(
    "dedup_prefix_filter_jaccard",
    (s, dir) => {
      val sh = shingleSurface(s, dir)
      // the candidate pairs are tiny and probed twice below
      val Guarded(cands, _, bc) = BroadcastGuard(prefixCandidatePairs(sh, 0.5), PairRowCap)
      val candDocs = cands.select(col("ia").as("doc_id"))
        .union(cands.select(col("ib").as("doc_id"))).distinct()
      // candidate-pruned shingles (referenced 2×: intersections, sizes)
      // are small by construction — broadcast one side of the
      // intersection self-join behind a row-count guard (r18: un-hinted
      // this planned a SortMergeJoin, exchanging + sorting the shingle
      // strings twice; past the cap the hint drops and the join stays
      // keyed). The cap is the SHINGLE-row cap, not the slim-pair cap —
      // these rows carry the strings (r18 advice)
      val Guarded(shC, _, shBc) = BroadcastGuard(sh.join(bc(candDocs), Seq("doc_id")),
        ShingleRowCap)
      val sz = shC.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = shC.as("ca").join(shBc(shC.as("cb")),
          col("ca.shingle") === col("cb.shingle") &&
          col("ca.doc_id") < col("cb.doc_id"))
        .select(col("ca.doc_id").as("ia"), col("cb.doc_id").as("ib"))
        .join(bc(cands), Seq("ia", "ib"), "left_semi")
        .groupBy("ia", "ib").agg(count(lit(1)).as("inter"))
      inter
        // sz covers CANDIDATE docs only (shC is candidate-pruned), so it
        // is small by construction at any corpus scale - broadcast both
        // sides instead of two shuffled sort-merge joins
        .join(bc(sz.as("sa")), col("ia") === col("sa.doc_id"))
        .join(bc(sz.as("sb")), col("ib") === col("sb.doc_id"))
        .select(col("ia"), col("ib"),
          (col("inter").cast("double") /
            (col("sa.n") + col("sb.n") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("ia", "ib")
    },
    Some(s"""
      WITH $jaccardPairsSql
      SELECT ia, ib, jaccard FROM jp ORDER BY ia, ib
    """.stripMargin.trim))

  /** Containment dedup: overlap / min(|x|,|y|) ≥ 0.8 — the asymmetric
    * twin of Jaccard. A short document quoted inside a long one has low
    * Jaccard (the union is large) but containment ≈ 1; pipelines use it
    * to drop subset duplicates (boilerplate-wrapped reposts, quoted
    * articles) that symmetric dedup misses. Reuses the conf-selected
    * candidate machinery ([[candidatePairsOf]]); `contained_doc_id`
    * names the smaller side — the one a keep-best policy would drop.
    */
  val containment: QueryDef = QueryDef(
    "dedup_containment",
    (s, dir) => {
      val sh = shingleSurface(s, dir)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      candidatePairsOf(sh, Int.MaxValue)
        .join(sz.as("sa"), col("ia") === col("sa.doc_id"))
        .join(sz.as("sb"), col("ib") === col("sb.doc_id"))
        .select(col("ia"), col("ib"),
          (col("inter").cast("double") / least(col("sa.n"), col("sb.n")))
            .as("containment"),
          when(col("sa.n") <= col("sb.n"), col("ia")).otherwise(col("ib"))
            .as("contained_doc_id"))
        .filter(col("containment") >= 0.8)
        .orderBy("ia", "ib")
    },
    Some(s"""
      WITH sh AS ($shinglesSql),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pair AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT ia, ib,
             CAST(inter AS DOUBLE) / LEAST(sa.n, sb.n) AS containment,
             CASE WHEN sa.n <= sb.n THEN ia ELSE ib END AS contained_doc_id
      FROM pair
      JOIN sz sa ON sa.doc_id = ia
      JOIN sz sb ON sb.doc_id = ib
      WHERE CAST(inter AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.8
      ORDER BY ia, ib
    """.stripMargin.trim))

  /** All 16 minhashes in ONE aggregation (16 min buffers, map-side
    * combine, single shuffle of the shingle set) instead of a ×16
    * row-exploding crossJoin through two shuffles. Lexicographic min of
    * md5(seed:shingle) — md5 hex min is a valid permutation surrogate
    * and portable to the oracle. Shared by every minhash-family query
    * so the sketch definition cannot drift between them.
    */
  private[operators] def minhashOf(sh: DataFrame): DataFrame = {
    val minCols = (0 until 16).map(i =>
      min(md5(concat(lit(s"$i:"), col("shingle")).cast("binary"))).as(s"h$i"))
    sh.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
  }

  /** 4×4 banding of [[minhashOf]]'s signature: (doc_id, band, bkey). */
  private[operators] def bandsOf(mh: DataFrame): DataFrame = {
    val bandKeys = (0 until 4).map(b =>
      md5(concat_ws(",", (0 until 4).map(r => col(s"h${b * 4 + r}")): _*).cast("binary")))
    mh.select(col("doc_id"), posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
  }

  /** Session-pinned sketch surface: the (shingle table, 16-hash minhash
    * signature table) pair memoized per (session, corpus) — the persisted
    * sketch index a production corpus maintains alongside its snapshots.
    * The minhash probe queries (estimate-quality gate, incremental delta)
    * read THIS instead of each rebuilding shingles→minhash from scratch:
    * the same amortization as [[pairSurface]] and AnnSearch's prebuilt
    * index. [[minhashLsh]] deliberately does NOT use it — it stays the
    * family's honest-build gate so the bench always carries one
    * full-cost shingles→minhash→bands build per run.
    *
    * Bands are NOT pinned: [[bandsOf]] is a narrow projection of the
    * pinned signature table (16 md5-concat columns, no shuffle), so
    * deriving them per probe is cheaper than holding a third pinned
    * frame across the whole bench run.
    */
  private val shingleCache = new graft.SessionCache[DataFrame]
  private val sketchCache = new graft.SessionCache[(DataFrame, DataFrame)]

  /** The corpus shingle table alone, pinned per (session, corpus) — the
    * layer of the sketch index the NGRAM family also probes (r7):
    * `dedup_ngram_jaccard`, its capped twin and the component step all
    * consume the same distinct (doc_id, shingle) surface, so rebuilding
    * the corpus explode per query modeled nothing. Split from
    * [[sketchSurface]] so a shingle-only consumer never charges the
    * 16-hash signature build to its own timed window.
    */
  private[operators] def shingleSurface(s: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate(s, dir) {
      graft.PinnedStorage.pin(s) {
        shingles(Tables.documents(s, dir)).localCheckpoint(true)
      }
    }

  private[operators] def sketchSurface(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    sketchCache.getOrElseUpdate(s, dir) {
      val sh = shingleSurface(s, dir)
      val mh = graft.PinnedStorage.pin(s) { minhashOf(sh).localCheckpoint(true) }
      (sh, mh)
    }

  /** MinHash + LSH candidate pairs: 16 minhashes, banded 4×4; pairs
    * sharing any band bucket are candidates. The banding join is the
    * scale path: cost is O(Σ bucket²), never all-pairs.
    */
  val minhashLsh: QueryDef = QueryDef(
    "dedup_minhash_lsh",
    (s, dir) => {
      val sh = shingles(Tables.documents(s, dir))
      val bands = bandsOf(minhashOf(sh))
        .localCheckpoint(true)  // self-joined below; avoids recomputing the minhash pipeline twice
      bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
        .distinct()
        .orderBy("ia", "ib")
    },
    Some(s"""
      WITH $lshCandsSql
      SELECT ia, ib FROM cand
      ORDER BY ia, ib
    """.stripMargin.trim))

  /** MinHash estimator quality: for every LSH candidate pair, the
    * 16-hash Jaccard estimate (matching-minhash fraction) next to the
    * exact shingle Jaccard and their absolute error — the metric that
    * decides whether the sketch parameters (16 hashes, 4×4 bands) are
    * trustworthy enough to SKIP exact verification at 100 TB, where
    * computing exact Jaccard on every candidate is the dominant cost.
    * All arithmetic is exact on both engines (k/16 is a power-of-two
    * division; Jaccard is BIGINT/BIGINT), so the floats hash-match.
    */
  val minhashEstimateQuality: QueryDef = QueryDef(
    "dedup_minhash_estimate_quality",
    (s, dir) => {
      // probes the session-pinned sketch index (see sketchSurface);
      // minhashLsh carries the family's honest build cost in the bench
      val (sh, mh) = sketchSurface(s, dir)
      // the candidate pairs are probed 3× below
      val Guarded(cands, _, bc) = BroadcastGuard(lshCandsFromSketch(s, dir), PairRowCap)
      // The whole exact side is scoped to CANDIDATE DOCUMENTS before any
      // further work: one broadcast semi-join prunes the shingle table to
      // the docs the LSH stage surfaced (at scale: orders of magnitude
      // smaller than the corpus). Intersections between two candidate
      // docs and per-doc shingle counts are unchanged by that pruning, so
      // the output is bit-identical — but the 3 full-shingle-table
      // shuffles the unpruned form paid (inter ×2, sz) become shuffles of
      // the pruned table (r5: 11.0 s → this is the round-6 hotspot fix).
      val candDocs = cands.select(col("ia").as("doc_id"))
        .union(cands.select(col("ib").as("doc_id"))).distinct()
      val shC = sh.join(bc(candDocs), Seq("doc_id"))
        .localCheckpoint(true)  // referenced 2× (intersections, sizes)
      val matchCount = (0 until 16)
        .map(i => when(col(s"ma.h$i") === col(s"mb.h$i"), 1).otherwise(0))
        .reduce(_ + _)
      val est = bc(cands)
        .join(mh.as("ma"), col("ia") === col("ma.doc_id"))
        .join(mh.as("mb"), col("ib") === col("mb.doc_id"))
        .select(col("ia"), col("ib"),
          (matchCount.cast("double") / 16.0).as("est_jaccard"))
      val sz = shC.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // exact intersection counts ONLY for the candidate pairs: a
      // co-shingle self-join of the pruned shingle table, semi-joined
      // back to the broadcast candidate set — never the full posting-list
      // pair expansion over the corpus.
      val inter = shC.as("ca").join(shC.as("cb"),
          col("ca.shingle") === col("cb.shingle") &&
          col("ca.doc_id") < col("cb.doc_id"))
        .select(col("ca.doc_id").as("ia"), col("cb.doc_id").as("ib"))
        .join(bc(cands), Seq("ia", "ib"), "left_semi")
        .groupBy("ia", "ib").agg(count(lit(1)).as("inter"))
      val exactJac = (coalesce(col("inter"), lit(0L)).cast("double") /
        (col("sa.n") + col("sb.n") - coalesce(col("inter"), lit(0L))))
      est.join(inter, Seq("ia", "ib"), "left")
        // candidate-scoped sz: broadcast (see prefixFilterJaccard note)
        .join(bc(sz.as("sa")), col("ia") === col("sa.doc_id"))
        .join(bc(sz.as("sb")), col("ib") === col("sb.doc_id"))
        .select(col("ia"), col("ib"), col("est_jaccard"),
          exactJac.as("jaccard"),
          abs(col("est_jaccard") - exactJac).as("abs_err"))
        .orderBy("ia", "ib")
    },
    Some(s"""
      WITH $lshCandsSql,
      e AS (
        SELECT c.ia, c.ib,
               SUM(CASE WHEN ma.h = mb.h THEN 1 ELSE 0 END) AS k
        FROM cand c
        JOIN mh ma ON ma.doc_id = c.ia
        JOIN mh mb ON mb.doc_id = c.ib AND mb.i = ma.i
        GROUP BY 1, 2),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pair AS (
        SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT e.ia, e.ib,
             CAST(e.k AS DOUBLE) / 16.0 AS est_jaccard,
             CAST(COALESCE(p.inter, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(p.inter, 0)) AS jaccard,
             ABS(CAST(e.k AS DOUBLE) / 16.0 -
                 CAST(COALESCE(p.inter, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(p.inter, 0))) AS abs_err
      FROM e
      LEFT JOIN pair p ON p.ia = e.ia AND p.ib = e.ib
      JOIN sz sa ON sa.doc_id = e.ia
      JOIN sz sb ON sb.doc_id = e.ib
      ORDER BY e.ia, e.ib
    """.stripMargin.trim))

  /** Incremental (delta) near-dup detection — the mode a growing corpus
    * actually runs: today's crawl (doc_id % 10 == 0 stands in for the
    * arrival partition) is checked against the EXISTING corpus only.
    * Candidate generation is the one-sided LSH band join (delta bands ⋈
    * corpus bands), so cost is O(|delta| × bucket), never corpus², and
    * the exact-Jaccard verification is scoped to candidate documents
    * with the same broadcast pruning as the estimate-quality gate. The
    * sketch itself comes from the session-pinned [[sketchSurface]] — the
    * persisted index a production corpus maintains (AnnSearch's prebuilt
    * pattern) — and is built from one snapshot covering both sides, so
    * the oracle can replay the whole computation.
    */
  val minhashIncrementalDelta: QueryDef = QueryDef(
    "dedup_minhash_incremental_delta",
    (s, dir) => {
      // probes the session-pinned sketch index (see sketchSurface)
      val (sh, mh) = sketchSurface(s, dir)
      val bands = bandsOf(mh)
      val isNew = col("doc_id") % 10 === 0
      // the candidate pairs are probed 2× (candDocs, normalized pair key)
      val Guarded(cands, _, bc) = BroadcastGuard(bands.filter(isNew).as("n")
        .join(bands.filter(!isNew).as("o"),
          col("n.band") === col("o.band") && col("n.bkey") === col("o.bkey"))
        .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
        .distinct(), PairRowCap)
      val candDocs = cands.select(col("new_id").as("doc_id"))
        .union(cands.select(col("old_id").as("doc_id"))).distinct()
      val shC = sh.join(bc(candDocs), Seq("doc_id"))
        .localCheckpoint(true)  // referenced 2× (intersections, sizes)
      val sz = shC.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // Exact intersections via the estimate_quality pattern: a co-shingle
      // self-join of the candidate-pruned shingle table, semi-joined back
      // to the (broadcast) candidate set on a normalized (lo, hi) pair key
      // — NOT the r6 pair-first expansion (cands ⋈ shC ⋈ shC), which
      // materialized |pair| × |shingles(new doc)| rows before the shingle
      // equi-join could cut them (the 12.4 s driver-bench hotspot).
      val candsNorm = cands.select(
        least(col("new_id"), col("old_id")).as("ia"),
        greatest(col("new_id"), col("old_id")).as("ib"))
      // orientation recovery needs no join-back: every candidate pair is
      // one delta doc (doc_id % 10 == 0) + one corpus doc, so the pair
      // key itself says which side is the new arrival
      val inter = shC.as("ca").join(shC.as("cb"),
          col("ca.shingle") === col("cb.shingle") &&
          col("ca.doc_id") < col("cb.doc_id"))
        .select(col("ca.doc_id").as("ia"), col("cb.doc_id").as("ib"))
        .join(bc(candsNorm), Seq("ia", "ib"), "left_semi")
        .groupBy("ia", "ib").agg(count(lit(1)).as("inter"))
        .select(
          when(col("ia") % 10 === 0, col("ia")).otherwise(col("ib")).as("new_id"),
          when(col("ia") % 10 === 0, col("ib")).otherwise(col("ia")).as("old_id"),
          col("inter"))
      inter
        // candidate-scoped sz: broadcast (see prefixFilterJaccard note)
        .join(bc(sz.as("sa")), col("new_id") === col("sa.doc_id"))
        .join(bc(sz.as("sb")), col("old_id") === col("sb.doc_id"))
        .select(col("new_id"), col("old_id"),
          (col("inter").cast("double") / (col("sa.n") + col("sb.n") - col("inter")))
            .as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("new_id", "old_id")
    },
    Some(s"""
      WITH sh AS ($shinglesSql),
      mh AS (
        SELECT doc_id, CAST(i.range AS INT) AS i,
               min(md5(CAST(i.range AS VARCHAR) || ':' || shingle)) AS h
        FROM sh CROSS JOIN range(0, 16) i
        GROUP BY 1, 2),
      bands AS (
        SELECT doc_id, CAST(i // 4 AS INT) AS band,
               md5(concat_ws(',',
                 max(CASE WHEN i % 4 = 0 THEN h END),
                 max(CASE WHEN i % 4 = 1 THEN h END),
                 max(CASE WHEN i % 4 = 2 THEN h END),
                 max(CASE WHEN i % 4 = 3 THEN h END))) AS bkey
        FROM mh GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        FROM bands n JOIN bands o ON n.band = o.band AND n.bkey = o.bkey
        WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pair AS (
        SELECT c.new_id, c.old_id, count(*) AS inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.new_id
        JOIN sh b ON b.doc_id = c.old_id AND b.shingle = a.shingle
        GROUP BY 1, 2)
      SELECT new_id, old_id,
             CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      FROM pair
      JOIN sz sa ON sa.doc_id = new_id
      JOIN sz sb ON sb.doc_id = old_id
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
      ORDER BY new_id, old_id
    """.stripMargin.trim))

  /** The incremental near-dup check as a REAL Structured Streaming run
    * (graft.streaming.DeltaDedupStream): the delta documents arrive as
    * two [[graft.streaming.LiveFeed]] drops (one micro-batch per drop,
    * so the pipeline genuinely crosses micro-batch boundaries), each
    * batch probes the session-pinned corpus sketch index through the
    * shared [[deltaNearDups]] core, and
    * confirmed pairs land in a batch_id-partitioned idempotent parquet
    * sink. Near-dup pairs are delta-vs-corpus only on both paths, and
    * each delta doc's pairs are independent of its batch assignment, so
    * the union over micro-batches equals the one-shot
    * [[minhashIncrementalDelta]] — which is why the SAME oracle SQL
    * hash-checks a genuine streaming execution.
    */
  val streamDeltaDedup: QueryDef = QueryDef(
    "stream_delta_dedup_minhash",
    (s, dir) => {
      // the pinned surface is read on the caller's session: the sketch
      // cache keys on it, so the feed's child session would rebuild it
      val (sh, mh) = sketchSurface(s, dir)
      val isNew = col("doc_id") % 10 === 0
      val corpusSh = sh.filter(!isNew)
      val corpusBands = bandsOf(mh).filter(!isNew)
      val deltaDocs = Tables.documents(s, dir).filter(isNew).select("doc_id", "text")
      val feed = graft.streaming.LiveFeed(s, "graft-stream-delta")
      // two crawl drops, written by executor tasks (nothing collected)
      val arrivals = feed.stream(deltaDocs.filter(expr("(doc_id div 10) % 2 = 0")),
        deltaDocs.filter(expr("(doc_id div 10) % 2 = 1")))
      graft.streaming.DeltaDedupStream.start(feed.session, arrivals, corpusSh, corpusBands,
        s"${feed.base}/pairs", feed.checkpoint).awaitTermination()
      s.read.parquet(s"${feed.base}/pairs")
        .select("new_id", "old_id", "jaccard")
        .orderBy("new_id", "old_id")
    },
    Some(s"""
      WITH sh AS ($shinglesSql),
      mh AS (
        SELECT doc_id, CAST(i.range AS INT) AS i,
               min(md5(CAST(i.range AS VARCHAR) || ':' || shingle)) AS h
        FROM sh CROSS JOIN range(0, 16) i
        GROUP BY 1, 2),
      bands AS (
        SELECT doc_id, CAST(i // 4 AS INT) AS band,
               md5(concat_ws(',',
                 max(CASE WHEN i % 4 = 0 THEN h END),
                 max(CASE WHEN i % 4 = 1 THEN h END),
                 max(CASE WHEN i % 4 = 2 THEN h END),
                 max(CASE WHEN i % 4 = 3 THEN h END))) AS bkey
        FROM mh GROUP BY 1, 2),
      cand AS (
        SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        FROM bands n JOIN bands o ON n.band = o.band AND n.bkey = o.bkey
        WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      pair AS (
        SELECT c.new_id, c.old_id, count(*) AS inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.new_id
        JOIN sh b ON b.doc_id = c.old_id AND b.shingle = a.shingle
        GROUP BY 1, 2)
      SELECT new_id, old_id,
             CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      FROM pair
      JOIN sz sa ON sa.doc_id = new_id
      JOIN sz sb ON sb.doc_id = old_id
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
      ORDER BY new_id, old_id
    """.stripMargin.trim))

  /** Delta-batch sketch: the (shingles, LSH bands) pair for ONE arrival
    * batch. `materialize = true` (the growth loop) eagerly checkpoints
    * both frames — they are appended to the corpus index and re-read by
    * every LATER batch, so the O(|batch|) build must run exactly once.
    * `materialize = false` (the streaming probe) returns lazy frames:
    * the sketch lives only inside the ONE foreachBatch action, where
    * ReuseExchange already dedupes its repeated subtrees — each eager
    * checkpoint would add a full extra job + block write per micro-batch
    * for data measured in hundreds of rows.
    */
  private[graft] def deltaSketch(
      deltaDocs: DataFrame, materialize: Boolean = true): (DataFrame, DataFrame) = {
    if (materialize) {
      val bsh = shingles(deltaDocs).localCheckpoint(true)
      val bbands = bandsOf(minhashOf(bsh)).localCheckpoint(true)
      (bsh, bbands)
    } else {
      val bsh = shingles(deltaDocs, spread = false)
      (bsh, bandsOf(minhashOf(bsh)))
    }
  }

  /** Core of the incremental near-dup probe — the reusable form of
    * [[minhashIncrementalDelta]]'s computation, shared by the streaming
    * wrapper (graft.streaming.DeltaDedupStream) and the oracle-gated
    * stream query (its steady-state throughput: DESIGN.md round 7): one
    * arrival batch (its [[deltaSketch]]) against a corpus sketch index.
    * Candidates come from the one-sided band join (batch bands ⋈ index
    * bands — O(|batch| × bucket), never corpus²); exact verification is
    * the estimate_quality shape (broadcast-prune the combined shingle
    * surface to candidate docs, co-shingle self-join, broadcast
    * semi-join back on the normalized pair key). Orientation is
    * recovered with a broadcast join against the batch's own doc ids —
    * the caller guarantees the index excludes the CURRENT batch, so
    * every candidate pair is one batch doc + one indexed doc.
    * Returns (new_id, old_id, jaccard) with jaccard ≥ 0.5.
    */
  private[graft] def deltaNearDupsFromSketch(
      bsh: DataFrame, bbands: DataFrame,
      corpusSh: DataFrame, corpusBands: DataFrame,
      eager: Boolean): DataFrame = {
    // `eager = false` (the streaming per-batch path): skip the
    // intermediate checkpoints and leave the repeated subtrees to
    // ReuseExchange inside the batch's single write action — at
    // micro-batch volume each eager materialization is a whole extra
    // job that costs more than recomputing the tiny frame it saves.
    def maybeCheckpoint(df: DataFrame): DataFrame =
      if (eager) df.localCheckpoint(true) else df
    val cands = maybeCheckpoint(
      bbands.as("n").join(corpusBands.as("o"),
        col("n.band") === col("o.band") && col("n.bkey") === col("o.bkey") &&
        col("n.doc_id") =!= col("o.doc_id"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .distinct())  // probed 2× (candDocs, normalized pair key)
    val candDocs = cands.select(col("new_id").as("doc_id"))
      .union(cands.select(col("old_id").as("doc_id"))).distinct()
    val shC = maybeCheckpoint(
      corpusSh.unionByName(bsh).join(broadcast(candDocs), Seq("doc_id")))
      // referenced 2× (intersections, sizes)
    val sz = shC.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val candsNorm = cands.select(
      least(col("new_id"), col("old_id")).as("ia"),
      greatest(col("new_id"), col("old_id")).as("ib"))
    // any near-dup's batch-side doc has shingles by construction, so the
    // batch ids seen in bsh suffice for orientation recovery.
    // Broadcasts here stay UNCONDITIONAL (unlike the batch tails'
    // BroadcastGuard): the candidate set is O(batch x bucket) by
    // construction, and a per-micro-batch count action would cost more
    // than the insurance buys.
    val deltaIds = bsh.select(col("doc_id").as("did")).distinct()
    shC.as("ca").join(shC.as("cb"),
        col("ca.shingle") === col("cb.shingle") &&
        col("ca.doc_id") < col("cb.doc_id"))
      .select(col("ca.doc_id").as("ia"), col("cb.doc_id").as("ib"))
      .join(candsNorm.hint("broadcast"), Seq("ia", "ib"), "left_semi")
      .groupBy("ia", "ib").agg(count(lit(1)).as("inter"))
      .join(broadcast(deltaIds), col("ia") === col("did"), "left")
      .select(
        when(col("did").isNotNull, col("ia")).otherwise(col("ib")).as("new_id"),
        when(col("did").isNotNull, col("ib")).otherwise(col("ia")).as("old_id"),
        col("inter"))
      // candidate-scoped sz: broadcast (see prefixFilterJaccard note)
      .join(broadcast(sz.as("sa")), col("new_id") === col("sa.doc_id"))
      .join(broadcast(sz.as("sb")), col("old_id") === col("sb.doc_id"))
      .select(col("new_id"), col("old_id"),
        (col("inter").cast("double") / (col("sa.n") + col("sb.n") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** [[deltaNearDupsFromSketch]] over raw (doc_id, text) arrival rows.
    * `eager = false` is the streaming micro-batch shape (lazy sketch, no
    * intermediate checkpoints — one job per batch).
    */
  private[graft] def deltaNearDups(
      deltaDocs: DataFrame, corpusSh: DataFrame, corpusBands: DataFrame,
      eager: Boolean = true): DataFrame = {
    val (bsh, bbands) = deltaSketch(deltaDocs, materialize = eager)
    deltaNearDupsFromSketch(bsh, bbands, corpusSh, corpusBands, eager)
  }

  /** 32-bit frequency-weighted SimHash; near-dup pairs = Hamming ≤ 3,
    * found exactly via the 4×8-bit chunk pigeonhole (≤3 differing bits ⇒
    * at least one of 4 chunks identical), so candidate generation is an
    * equi-join on chunks, not all-pairs. Integer-only → exact oracle.
    */
  val simhash: QueryDef = QueryDef(
    "dedup_simhash",
    (s, dir) => {
      // Frequency weighting falls out of per-instance summation: the
      // weighted form Σ_distinct-tok count(tok)·sign equals Σ_instance
      // sign, so no (doc_id, tok) pre-aggregation shuffle is needed —
      // md5 runs per token instance (cheap, codegen'd) and the ONLY
      // shuffle is the per-doc bit-sum aggregation with map-side combine
      // (each input partition emits at most one 32-buffer row per doc).
      // Bit j of a token is bit (j div 16) of hex digit (j mod 16) of its
      // md5. The 16 hex digits are parsed ONCE into two unsigned 32-bit
      // longs (hv1 = digits 1-8, hv2 = digits 9-16) so each bit
      // extraction is a shift+mask, not a per-bit scan of the hex
      // alphabet. Digit p (0-based from the left) of an 8-digit half
      // occupies bits (7-p)*4 .. (7-p)*4+3 of its half's numeric value.
      val tcv = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism) // 1-row-group testdata: parallelize the md5-heavy explode (see shingles)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .withColumn("h", md5(col("tok").cast("binary")))
        .withColumn("hv1", expr("cast(conv(substring(h, 1, 8), 16, 10) as long)"))
        .withColumn("hv2", expr("cast(conv(substring(h, 9, 8), 16, 10) as long)"))
      val bitSums = (0 until 32).map { j =>
        val digit = j % 16          // hex-digit index, 0-based from the left
        val bitInDigit = j / 16     // which of the digit's low 2 bits
        val half = if (digit < 8) "hv1" else "hv2"
        val shift = (7 - digit % 8) * 4 + bitInDigit
        sum(expr(s"2 * (shiftright($half, $shift) % 2) - 1")).as(s"sv$j")
      }
      val sig = tcv.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"),
          concat((0 until 32).map(j =>
            when(col(s"sv$j") > 0, "1").otherwise("0")): _*).as("sig"))
      // sigv: the 32-bit signature parsed to a LONG once per doc-chunk
      // row (≈4×docs rows) — NOT per candidate pair: the r5 form ran
      // conv(sig,2,10) twice inside the join projection, i.e. ~3.4M
      // string-parse calls over the 1.7M-pair candidate surface at sf0.1
      val chunks = sig.select(col("doc_id"),
          conv(col("sig"), 2, 10).cast("long").as("sigv"),
          explode(expr("transform(sequence(0, 3), k -> struct(k AS k, substring(sig, k * 8 + 1, 8) AS chunk))")).as("c"))
        .select(col("doc_id"), col("sigv"), col("c.k").as("k"), col("c.chunk").as("chunk"))
        .localCheckpoint(true)  // self-joined below; sig pipeline is the expensive part
      // positional diff count == popcount of XOR of the signatures as
      // integers — all codegen'd builtins (the HOF filter/substring form
      // cost 116 s over 1.7M candidate pairs at sf0.1). Hamming is
      // computed and filtered INSIDE the join projection, before the
      // dedup shuffle: a pair matching in several chunks re-computes a
      // few integer ops, but the distinct() then shuffles only the
      // near-dup survivors (hundreds), not 1.7M wide candidate rows.
      chunks.as("a").join(chunks.as("b"),
          col("a.k") === col("b.k") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
          bit_count(col("a.sigv").bitwiseXOR(col("b.sigv"))).cast("long").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
        .orderBy("ia", "ib")
    },
    Some("""
      WITH tc AS (
        SELECT doc_id, tok, count(*) AS w, md5(tok) AS h
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
        GROUP BY doc_id, tok),
      bits AS (
        SELECT doc_id, CAST(i.range AS INT) AS j,
               SUM(w * (((strpos('0123456789abcdef', substr(h, CAST(i.range AS INT) % 16 + 1, 1)) - 1)
                         >> CAST(i.range // 16 AS INT)) % 2 * 2 - 1)) AS sv
        FROM tc CROSS JOIN range(0, 32) i
        GROUP BY 1, 2),
      sig AS (
        SELECT doc_id, string_agg(CASE WHEN sv > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sig
        FROM bits GROUP BY doc_id),
      chunks AS (
        SELECT doc_id, sig, CAST(k.range AS INT) AS k,
               substr(sig, CAST(k.range AS INT) * 8 + 1, 8) AS chunk
        FROM sig CROSS JOIN range(0, 4) k),
      cand AS (
        SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib, a.sig AS sa, b.sig AS sb
        FROM chunks a JOIN chunks b
          ON a.k = b.k AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
      SELECT ia, ib,
             CAST(len(list_filter(generate_series(1, 32),
                  p -> substr(sa, CAST(p AS INT), 1) != substr(sb, CAST(p AS INT), 1))) AS BIGINT) AS hamming
      FROM cand
      WHERE len(list_filter(generate_series(1, 32),
                p -> substr(sa, CAST(p AS INT), 1) != substr(sb, CAST(p AS INT), 1))) <= 3
      ORDER BY ia, ib
    """.stripMargin.trim))

  /** Embedding cosine near-dup: pairs with cos ≥ 0.4. Dot products fold
    * left-to-right in double on both engines (Spark `aggregate` HOF vs
    * DuckDB `list_reduce`) so the doubles are bit-identical.
    * Scale note: all-pairs is the sf0.x-correctness form; the scale path
    * is the LSH/IVF bucketing in AnnSearch — same scoring expression.
    * As the whitelisted all-pairs baseline (r15 decade exponent 2.16)
    * the LEFT side carries the [[AuditGuard]]: above 4k corpus rows only
    * a deterministic ~2k-row sample of `ia` anchors is audited (each
    * anchor's pair list stays exact), bounding the audit at
    * O(keep · corpus) at any size; every verification SF is below the
    * threshold and unchanged.
    */
  val embeddingCosine: QueryDef = QueryDef(
    "dedup_embedding_cosine",
    (s, dir) => {
      graft.functions.VectorExpressions.register(s)
      val e = Tables.embeddings(s, dir).select(
        col("vec_id"), col("embedding"),
        expr("sqrt(float_dot(embedding, embedding))").as("nrm"))
        .localCheckpoint(true)  // both sides of the pair join
      AuditGuard.sample(e, "vec_id")
        .as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
          (expr("float_dot(a.embedding, b.embedding)")
            / (col("a.nrm") * col("b.nrm"))).as("cos"))
        .filter(col("cos") >= 0.4)
        .orderBy("ia", "ib")
    },
    Some(s"""
      WITH ${normCteSql("e", "vec_id, embedding")}
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             ${cosSql("a", "b")} AS cos
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE ${cosSql("a", "b")} >= 0.4
        AND ${AuditGuard.sqlPred("a.vec_id", "embeddings")}
      ORDER BY ia, ib
    """.stripMargin.trim))

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * restrict the pairwise cosine check to each coarse k-means cluster
    * (the `label` column — the same coarse quantizer the IVF index probes)
    * and greedily drop any vector with an EARLIER same-cluster neighbor
    * above the similarity threshold. `dup_of` is the smallest such
    * neighbor id, NULL for kept representatives, so the output is both
    * the keep-set and the dup→representative mapping.
    *
    * Scale shape: the candidate join is an equi-join on the cluster label
    * — O(Σ cluster²) work instead of the corpus² of
    * [[embeddingCosine]], and exactly the SemDeDup recipe for running
    * semantic dedup at pretraining-corpus scale. Probes the pinned
    * [[AnnSearch.index]] signature table (the production amortization;
    * the honest build cost stays on the ann_cosine_topk_* carriers).
    * Threshold 0.30 sits at ~p99 of the within-cluster cosine mass of
    * the synthetic embeddings — the same "only near-twins" regime the
    * paper's 0.9+ occupies on real embeddings.
    */
  val semanticSemdedup: QueryDef = QueryDef(
    "dedup_semantic_semdedup",
    (s, dir) => {
      val e = AnnSearch.index(s, dir)
      val a = e.select(col("vec_id").as("ua"), col("label").as("la"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("ub"), col("label").as("lb"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      val dups = a.join(b, col("la") === col("lb") && col("ua") < col("ub"))
        .filter(expr("float_dot(ea, eb)") / (col("na") * col("nb")) >= 0.30)
        .groupBy(col("ub").as("vec_id"))
        .agg(min(col("ua")).as("dup_of"))
      e.select(col("vec_id"), col("label").cast("long").as("label"))
        .join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"), col("dup_of"),
          col("dup_of").isNull.as("kept"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH ${normCteSql("n", "vec_id, label, embedding")},
      d AS (
        SELECT c.vec_id AS vec_id, MIN(q.vec_id) AS dup_of
        FROM n q JOIN n c ON q.label = c.label AND q.vec_id < c.vec_id
        WHERE ${cosSql("q", "c")} >= 0.30
        GROUP BY c.vec_id)
      SELECT n.vec_id, CAST(n.label AS BIGINT) AS label, d.dup_of,
             d.dup_of IS NULL AS kept
      FROM n LEFT JOIN d ON n.vec_id = d.vec_id
      ORDER BY n.vec_id
    """.stripMargin.trim))

  /** Connected components over the near-dup pair graph (Jaccard ≥ 0.5):
    * every document labeled with the min doc_id of its component — the
    * step that turns pairwise near-dup hits into keep-one-per-cluster
    * decisions in a training-data pipeline.
    *
    * Spark-first iterative shape: min-label propagation with POINTER
    * DOUBLING as a driver loop of join+groupBy rounds — each round takes
    * the min over edge neighbors, then shortcuts every label to its
    * label's label, so convergence is O(log diameter) rounds (near-dup
    * clusters are near-cliques so 1-2 rounds in practice; a chain of 32
    * converges in ~6 — ErChainSpec pins it), with localCheckpoint each
    * round to cut lineage — the Hash-to-Min / pointer-jumping family of
    * MR connected-components algorithms, expressed on DataFrames so
    * Catalyst plans each round. The DuckDB oracle computes the exact
    * fixpoint independently via a recursive CTE, so convergence bugs
    * can't hide.
    *
    * Shared by dedup_cluster_components and the keep-best
    * canonicalization query (PipelineCompositions).
    */
  private[operators] def componentLabels(s: SparkSession, dir: String): DataFrame =
    componentLabelsOf(s, dir, pairsSurface(s, dir))

  private[operators] def componentLabelsOf(s: SparkSession, dir: String, pairsIn: DataFrame): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .join(propagateMinLabels(pairsIn), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("component_id"))

  /** THE min-label propagation loop, universe-agnostic: labels ONLY the
    * vertices that appear in an edge (isolated records are trivially
    * their own component — callers patch them in against their own
    * universe: [[componentLabelsOf]] joins the documents corpus, the ER
    * census runs over matched customers directly). Returns
    * (doc_id, comp).
    */
  private[operators] def propagateMinLabels(pairsIn: DataFrame): DataFrame = {
      val pairs = pairsIn.select("ia", "ib")
      // The propagation loop runs ONLY over vertices that appear in a
      // near-dup edge — |V(E)| is orders of magnitude smaller than the
      // corpus (isolated documents are trivially their own component and
      // are patched in with one left join at the end).
      // LAZY checkpoint: materialized by the count() below — one job for
      // symmetrize+store+size instead of an eager-checkpoint job plus a
      // count job (the loop is scheduling-floor-bound at local scale, so
      // every folded action is a measurable win; at cluster scale fewer
      // barriers is the same win).
      val edgesFull = pairs.select(col("ia").as("src"), col("ib").as("dst"))
        .union(pairs.select(col("ib").as("src"), col("ia").as("dst")))
        .localCheckpoint(false)
      // Partition count for the loop is DERIVED from the edge count
      // (count is free: edges are checkpointed): ~4M edge rows ≈ 100 MB
      // per task. sf0.x collapses to 1 partition, so each round is not
      // dominated by fixed per-task scheduling; |E|=10^10 gets ~2500
      // tasks — a hard-coded constant cannot serve both ends.
      val parts = math.max(1, math.ceil(edgesFull.count() / 4194304.0).toInt)
      val edges = edgesFull.coalesce(parts)
      // label INITIALIZATION is already the first propagation round: the
      // old `select(src).distinct()` paid a full shuffle just to list the
      // vertices — the same shuffle as a groupBy, which can fold each
      // vertex's 1-hop minimum for free. Near-clique components (the
      // dedup graphs) converge here immediately and the loop only runs
      // its zero-change detection round.
      var labels = edges.groupBy(col("src").as("doc_id"))
        .agg(min(col("dst")).as("mn"))
        .select(col("doc_id"), least(col("doc_id"), col("mn")).as("comp"))
        .coalesce(parts)
        .localCheckpoint(false) // materialized by round 1's single action
      var changed = 1L
      var rounds = 0
      while (changed > 0) {
        val prop = edges.join(labels, edges("dst") === labels("doc_id"))
          .groupBy(col("src")).agg(min("comp").as("ncomp"))
        // carry the previous label through the join so change detection is
        // a filter over the checkpointed result, not an extra self-join
        val hop = labels.as("l").join(prop, col("l.doc_id") === col("src"), "left")
          .select(col("l.doc_id").as("doc_id"), col("l.comp").as("prev"),
            least(col("l.comp"), coalesce(col("ncomp"), col("l.comp"))).as("c1"))
        // pointer doubling (r10 verdict item 3): shortcut every label to
        // its label's CURRENT label — a label is always the id of a
        // vertex in the same component, so l(l(v)) stays in-component
        // and the fixpoint (every vertex at its component minimum) is
        // unchanged. On chain-shaped components the remaining distance
        // to the minimum then halves per round (O(log d) driver rounds
        // instead of O(d) — ErChainSpec pins the 64-chain); graphs that
        // converge immediately only pay one node-sized lookup join in
        // their single detection round. `hop` is deterministic and tiny
        // (node-sized, both inputs checkpointed), so the double
        // consumption below recomputes instead of forcing a second
        // materialization per round (measured cheaper at sf0.1).
        // the shortcut arms from the SECOND loop round: graphs that are
        // done after the min-init + one hop (near-clique dedup clusters)
        // never pay the lookup join at all, and chains still get the
        // O(log d) regime from round 2 on
        val next = (if (rounds < 1)
            hop.select(col("doc_id"), col("prev"), col("c1").as("comp"))
          else hop
            .join(hop.select(col("doc_id").as("c1"), col("c1").as("cc")),
              Seq("c1"), "left")
            .select(col("doc_id"), col("prev"),
              least(col("c1"), coalesce(col("cc"), col("c1"))).as("comp")))
          .localCheckpoint(false)
        // ONE action per round: the agg materializes the lazy checkpoint
        // (which truncates lineage for the next round) AND returns the
        // change count — count(when(...)) is 0 on an empty frame, so the
        // no-edges corner terminates like the old filter().count() did
        changed = next.agg(count(when(col("comp") =!= col("prev"), 1)))
          .head().getLong(0)
        labels = next.select("doc_id", "comp")
        rounds += 1
      }
      lastPropagationRounds.set(rounds)
      org.slf4j.LoggerFactory.getLogger("graft.Dedup")
        .info(s"propagateMinLabels converged in $rounds rounds")
      labels
  }

  /** Observability for the propagation loop (read by specs): rounds the
    * LAST [[propagateMinLabels]] call took to reach its fixpoint.
    * Process-global, not thread-safe across concurrent runs.
    */
  private[operators] val lastPropagationRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** SQL twin of [[componentLabels]]: the recursive-CTE fixpoint. Must be
    * opened with WITH RECURSIVE; yields comp AS (doc_id, component_id). */
  private[operators] val componentLabelsSql: String =
    s"""$jaccardPairsSql,
      |edges AS (SELECT ia AS src, ib AS dst FROM jp
      |          UNION ALL SELECT ib, ia FROM jp),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.src, reach.r FROM reach JOIN edges e ON reach.id = e.dst),
      |comp AS (
      |  SELECT id AS doc_id, MIN(r) AS component_id
      |  FROM reach GROUP BY id)""".stripMargin

  val clusterComponents: QueryDef = QueryDef(
    "dedup_cluster_components",
    (s, dir) => componentLabels(s, dir).orderBy("doc_id"),
    Some(s"""
      WITH RECURSIVE $componentLabelsSql
      SELECT doc_id, component_id FROM comp ORDER BY doc_id
    """.stripMargin.trim))

  /** Persisted pair surface: near-dup pairs + component labels memoized
    * per (session, corpus) and pinned — the near-dup index downstream
    * curation steps (PipelineCompositions) probe. A production pipeline
    * computes this once per corpus snapshot and every curation step reads
    * the stored table (the same amortization as AnnSearch.index and
    * NpmReplayOps.replayCache); the dedup_* gate queries keep building
    * their own surfaces so their bench entries stay honest build costs.
    */
  private val pairsCache = new graft.SessionCache[DataFrame]
  private val surfaceCache = new graft.SessionCache[(DataFrame, DataFrame)]

  /** The near-dup PAIR layer alone, pinned per (session, corpus) — r7
    * layering, mirroring [[shingleSurface]]/[[sketchSurface]]: the
    * component step consumes exactly the pair table the curation surface
    * is built on, so it probes this pin and keeps only its own
    * propagation loop as per-query work. `dedup_ngram_jaccard` stays the
    * honest carrier of the pair-generation join (it never reads this
    * cache), exactly as `dedup_minhash_lsh` carries the sketch build.
    */
  private[operators] def pairsSurface(s: SparkSession, dir: String): DataFrame =
    pairsCache.getOrElseUpdate(s, dir) {
      // Pin ONLY the frames the queries keep probing. The builders'
      // internal eager checkpoints (shingle table, edge table, per-round
      // label frames) materialize OUTSIDE the pin blocks, so the
      // between-query sweep can still reclaim them — pinning them too
      // would reintroduce exactly the storage accumulation PinnedStorage
      // exists to prevent.
      graft.PinnedStorage.pin(s) { jaccardPairs(s, dir).localCheckpoint(true) }
    }

  private[operators] def pairSurface(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    surfaceCache.getOrElseUpdate(s, dir) {
      val pairs = pairsSurface(s, dir)
      val labelsPlan = componentLabelsOf(s, dir, pairs)
      val labels = graft.PinnedStorage.pin(s) { labelsPlan.localCheckpoint(true) }
      (pairs, labels)
    }

  /** LSH candidate pairs against the session-pinned sketch (the probe
    * path shared with [[minhashEstimateQuality]] and CrossSourceSpec;
    * [[minhashLsh]] remains the family's honest-build gate). Returned
    * unmaterialized: multi-consumer callers materialize it through
    * [[BroadcastGuard]].
    */
  private[operators] def lshCandsFromSketch(s: SparkSession, dir: String): DataFrame = {
    val (_, mh) = sketchSurface(s, dir)
    val bands = bandsOf(mh)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      .distinct()
  }

  /** WHO duplicates WHOM: near-dup pair mass per unordered source pair.
    * The governance artifact behind every "drop source X, it is 80%
    * scraped from source Y" decision — the first corpus-level question
    * after any dedup run. Complementary to
    * `pipeline_cross_source_contamination` (exact-Jaccard-verified pairs,
    * cross-source only): THIS is the candidate-level screening view —
    * LSH sketch pairs, no verification pass, INTRA-source mass included —
    * i.e. the cheap matrix a 100 TB run consults to decide where
    * verification money goes. Scale shape: the candidate pairs are
    * LSH-bounded (O(Σ bucket²), never corpus²) and the two source
    * lookups are doc_id-keyed joins of that small pair set against the
    * corpus (broadcast while small, size-guarded like every candidate
    * tail) — the full documents table is scanned once per side for two
    * columns and never shuffled against itself.
    */
  val crossSourceAttribution: QueryDef = QueryDef(
    "dedup_cross_source_attribution",
    (s, dir) => {
      val Guarded(cands, _, bc) = BroadcastGuard(lshCandsFromSketch(s, dir), PairRowCap)
      val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      bc(cands)
        .join(src.as("da"), col("ia") === col("da.doc_id"))
        .join(src.as("db"), col("ib") === col("db.doc_id"))
        .select(least(col("da.source"), col("db.source")).as("src_a"),
          greatest(col("da.source"), col("db.source")).as("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy(desc("n_pairs"), asc("src_a"), asc("src_b"))
    },
    Some(s"""
      WITH $lshCandsSql
      SELECT LEAST(da.source, db.source) AS src_a,
             GREATEST(da.source, db.source) AS src_b,
             COUNT(*) AS n_pairs
      FROM cand
      JOIN documents da ON ia = da.doc_id
      JOIN documents db ON ib = db.doc_id
      GROUP BY 1, 2
      ORDER BY n_pairs DESC, src_a ASC, src_b ASC
    """.stripMargin.trim))

  /** Duplication rate per source: how much of each source's volume sits
    * inside at least one near-dup pair — the per-source quality dial
    * that prices a source's marginal contribution before it is admitted
    * to a mixture. Sources with zero near-dups surface with rate 0.0
    * (left join), so the report always covers the full source roster.
    * The division is one BIGINT/BIGINT → DOUBLE op on both engines.
    */
  /** Doc ids appearing in ≥ 1 LSH near-dup candidate pair, wrapped by
    * the size-guarded broadcaster — the ONE dup-exposure set shared by
    * the per-source rate query and the data card. */
  private[operators] def dupDocIdsGuarded(s: SparkSession, dir: String): DataFrame = {
    val Guarded(cands, _, bc) = BroadcastGuard(lshCandsFromSketch(s, dir), PairRowCap)
    bc(cands.select(col("ia").as("doc_id"))
      .union(cands.select(col("ib").as("doc_id"))).distinct())
  }

  /** SQL twin of [[dupDocIdsGuarded]] (expects the `cand` CTE in scope). */
  private[operators] val dupDocsSql: String =
    "dupd AS (SELECT ia AS doc_id FROM cand UNION SELECT ib AS doc_id FROM cand)"

  val dupRateBySource: QueryDef = QueryDef(
    "pipeline_dedup_rate_by_source",
    (s, dir) => {
      val dupDocs = dupDocIdsGuarded(s, dir)
      val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val perSrcTotal = src.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val perSrcDup = src.join(dupDocs, Seq("doc_id"), "left_semi")
        .groupBy("source").agg(count(lit(1)).as("n_dup"))
      perSrcTotal.join(perSrcDup, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"),
          (coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_docs"))
            .as("dup_rate"))
        .orderBy("source")
    },
    Some(s"""
      WITH $lshCandsSql,
      $dupDocsSql,
      tot AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
      dps AS (SELECT source, COUNT(*) AS n_dup FROM documents
              WHERE doc_id IN (SELECT doc_id FROM dupd) GROUP BY 1)
      SELECT t.source, n_docs, COALESCE(n_dup, 0) AS n_dup,
             CAST(COALESCE(n_dup, 0) AS DOUBLE) / n_docs AS dup_rate
      FROM tot t LEFT JOIN dps USING (source)
      ORDER BY source
    """.stripMargin.trim))

  /** Maximal shared verbatim word spans — the exact-substring layer of
    * the dedup family (the operation suffix-array dedup performs in
    * "Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2021, re-expressed for a distributed engine): every
    * run of >= 10 consecutive words appearing verbatim in two documents
    * yields ONE row per maximal span, with both start positions and the
    * span length. Near-dup scoring (Jaccard/MinHash) says THAT two docs
    * overlap; this says WHERE, which is what span-level cut-and-dedup
    * needs.
    *
    * Shape: word-5-gram inverted index with positions → content-keyed
    * occurrence equi-join (the family's standard candidate pattern —
    * never all-pairs) → gaps-and-islands fold: matched positions with a
    * constant alignment offset (pa − pb) and consecutive pa form one
    * island (pa − row_number() is constant exactly on such runs), and
    * each island is a maximal span of length count + 4 words. Cost is
    * O(Σ df_gram²) join work plus one window over matched positions,
    * both keyed and partition-parallel; 5-gram df is naturally tiny
    * (max 3 on this corpus), and at 100 TB hot boilerplate grams take
    * the same df-cap treatment the skew spec measures for shingles.
    *
    * This helper is the shared core of [[duplicateSpans]] (the report)
    * and [[spanDedupCut]] (the corpus cut); [[gramSpansSql]] is its
    * DuckDB twin, interpolated into both oracles.
    */
  /** Positional word-5-gram table: (doc_id, pos, gram), pos 1-based. */
  private[operators] def gramTable(docs: DataFrame): DataFrame =
    docs
      // same single-row-group spread as shingles(): the explode is the
      // CPU stage and must not run behind a one-task scan
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 5)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, size(ts) - 4),
          |  i -> concat_ws(' ', element_at(ts, i), element_at(ts, i + 1),
          |    element_at(ts, i + 2), element_at(ts, i + 3), element_at(ts, i + 4)))""".stripMargin))
        .as(Seq("off", "gram")))
      .select(col("doc_id"), (col("off") + 1).cast("int").as("pos"), col("gram"))

  /** Cross-document gram occurrence matches (ia < ib, both positions).
    * `maxGramDf` is the hot-gram defense for boilerplate-heavy corpora:
    * grams occurring more than the cap are dropped BEFORE the join
    * (their posting lists never shuffle), bounding join work at
    * O(Σ min(df, cap)²) — the positional twin of the shingle df cap
    * (DedupSkewSpec). Recall tradeoff: a span may split (or fall below
    * threshold) where a dropped gram interrupts it; exact detection
    * keeps the default uncapped.
    */
  private[operators] def gramMatches(grams: DataFrame, maxGramDf: Int = Int.MaxValue): DataFrame = {
    val pruned =
      if (maxGramDf == Int.MaxValue) grams
      else grams.join(
        grams.groupBy("gram").agg(count(lit(1)).as("gdf"))
          .filter(col("gdf") <= maxGramDf).select("gram"),
        Seq("gram"), "left_semi")
    pruned.as("a").join(pruned.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
  }

  /** Gaps-and-islands fold: matches → maximal spans (see scaladoc above). */
  private[operators] def spansFromMatches(m: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ia"), col("ib"), col("pa") - col("pb"))
      .orderBy("pa")
    m.withColumn("island", col("pa") - row_number().over(w))
      .groupBy(col("ia"), col("ib"), (col("pa") - col("pb")).as("d"), col("island"))
      .agg(min("pa").as("a_start"), min("pb").as("b_start"),
        (count(lit(1)) + 4).as("span_words"))
      .filter(col("span_words") >= 10)
      .select("ia", "ib", "a_start", "b_start", "span_words")
  }

  private[operators] def gramSpans(s: SparkSession, dir: String): DataFrame =
    spansFromMatches(gramMatches(gramTable(Tables.documents(s, dir))))

  /** The SQL twin of [[gramSpans]], interpolated into both span oracles
    * so the span definition structurally cannot drift between them.
    */
  private val gramSpansSql: String =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |),
      |grams AS (
      |  SELECT doc_id, CAST(p AS INT) AS pos,
      |         ts[CAST(p AS INT)] || ' ' || ts[CAST(p AS INT)+1] || ' ' ||
      |         ts[CAST(p AS INT)+2] || ' ' || ts[CAST(p AS INT)+3] || ' ' ||
      |         ts[CAST(p AS INT)+4] AS gram
      |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 3)) AS p
      |        FROM toks WHERE len(ts) >= 5) t
      |),
      |m AS (
      |  SELECT a.doc_id AS ia, b.doc_id AS ib, a.pos AS pa, b.pos AS pb
      |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |),
      |isl AS (
      |  SELECT ia, ib, pa, pb,
      |         pa - ROW_NUMBER() OVER (PARTITION BY ia, ib, pa - pb ORDER BY pa) AS island
      |  FROM m
      |),
      |spans AS (
      |  SELECT ia, ib, MIN(pa) AS a_start, MIN(pb) AS b_start,
      |         COUNT(*) + 4 AS span_words
      |  FROM isl
      |  GROUP BY ia, ib, pa - pb, island
      |  HAVING COUNT(*) + 4 >= 10
      |)""".stripMargin

  val duplicateSpans: QueryDef = QueryDef(
    "dedup_duplicate_spans",
    (s, dir) => gramSpans(s, dir).orderBy("ia", "ib", "a_start", "b_start"),
    Some(s"""
      WITH $gramSpansSql
      SELECT ia, ib, a_start, b_start, span_words
      FROM spans
      ORDER BY ia, ib, a_start, b_start
    """.stripMargin.trim))

  /** Span-level dedup CUT — the consumption step of [[duplicateSpans]]
    * (what suffix-array dedup actually does to the corpus): every word
    * position covered by a shared span in the LATER document (the pair's
    * `ib` side; the earlier doc keeps its copy) is removed, and the
    * output audits the cut per document — original word count, words
    * removed, and an md5 over the surviving text so the exact post-cut
    * content is hash-gated without dumping full documents. Verbatim
    * duplicate docs come out fully emptied (md5 of "").
    *
    * Shape: spans are O(near-dup pairs) — a tiny frame — so coverage is
    * a broadcast range anti-join against the exploded word table (doc
    * equi-key + position-in-interval residual); overlapping spans need
    * no interval union because anti-join semantics already remove a
    * position matched by ANY span. Reconstruction is a per-doc sorted
    * fold (collect_list + array_sort per doc_id, bounded by doc length —
    * never a corpus-wide sort).
    */
  val spanDedupCut: QueryDef = QueryDef(
    "pipeline_span_dedup_cut",
    (s, dir) => {
      // materialized for the coverage join AND the size-guarded broadcast
      // decision (a dup-heavy corpus can make the span set arbitrarily
      // large — same guard as the LSH tails)
      val Guarded(spans, _, bc) = BroadcastGuard(gramSpans(s, dir), PairRowCap)
      val words = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .select(col("doc_id"), posexplode(col("ts")).as(Seq("off", "w")))
        .select(col("doc_id"), (col("off") + 1).cast("int").as("pos"), col("w"))
      val kept = words.join(bc(spans),
          words("doc_id") === spans("ib") && col("pos") >= col("b_start") &&
          col("pos") < col("b_start") + col("span_words"),
          "left_anti")
      val keptAgg = kept.groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        md5(concat_ws(" ", expr("transform(array_sort(collect_list(struct(pos, w))), x -> x.w)"))
          .cast("binary")).as("kept_md5"))
      Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("bigint").as("n_words"))
        .join(keptAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"),
          (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("kept_md5"), md5(lit("").cast("binary"))).as("kept_md5"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $gramSpansSql,
      words AS (
        SELECT doc_id, CAST(p AS INT) AS pos, ts[CAST(p AS INT)] AS w
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS p FROM toks) t
      ),
      kept AS (
        SELECT w.doc_id, w.pos, w.w
        FROM words w ANTI JOIN spans s
          ON w.doc_id = s.ib AND w.pos >= s.b_start
         AND w.pos < s.b_start + s.span_words
      )
      SELECT d.doc_id,
             len(string_split(d.text, ' ')) AS n_words,
             len(string_split(d.text, ' ')) - COUNT(k.pos) AS n_removed,
             md5(COALESCE(string_agg(k.w, ' ' ORDER BY k.pos), '')) AS kept_md5
      FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
      GROUP BY d.doc_id, d.text
      ORDER BY d.doc_id
    """.stripMargin.trim))

  /** MinHash sketch mergeability, proven through the oracle gate: the
    * Spark side splits every document's shingle set into 4 arbitrary
    * hash shards, builds an independent partial 16-slot sketch PER
    * SHARD, and merges the partials by element-wise min; the oracle
    * computes the sketch directly over the unsplit shingle set. The
    * hash compare passing IS the algebraic property (min is
    * associative + commutative + idempotent) that makes the sketch
    * index maintainable at 100 TB: each data shard keeps its own
    * partial sketch next to its rows, corpus-level signatures are a
    * cheap merge — never a corpus-wide re-shingle — and Spark's own
    * map-side partial aggregation is this same two-level tree, applied
    * implicitly. Output is one md5 over the 16 merged slots per doc.
    */
  val minhashSketchMerge: QueryDef = QueryDef(
    "dedup_minhash_sketch_merge",
    (s, dir) => {
      val sh = shingleSurface(s, dir)
      val slotMins = (0 until 16).map(i =>
        min(md5(concat(lit(s"$i:"), col("shingle")).cast("binary"))).as(s"h$i"))
      val partial = sh
        .withColumn("shard", pmod(hash(col("shingle")), lit(4)))
        .groupBy(col("doc_id"), col("shard"))
        .agg(slotMins.head, slotMins.tail: _*)
      val remerge = (0 until 16).map(i => min(col(s"h$i")).as(s"h$i"))
      partial.groupBy(col("doc_id"))
        .agg(remerge.head, remerge.tail: _*)
        .select(col("doc_id"),
          md5(concat_ws(",", (0 until 16).map(i => col(s"h$i")): _*).cast("binary")).as("sig"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH sh AS ($shinglesSql),
      mh AS (
        SELECT doc_id, CAST(i.range AS INT) AS i,
               min(md5(CAST(i.range AS VARCHAR) || ':' || shingle)) AS h
        FROM sh CROSS JOIN range(0, 16) i
        GROUP BY 1, 2)
      SELECT doc_id, md5(string_agg(h, ',' ORDER BY i)) AS sig
      FROM mh GROUP BY doc_id ORDER BY doc_id
    """.stripMargin.trim))

  /** Winnowing candidate pairs — the 7th candidate generator, with a
    * guarantee profile the others lack (Schleimer et al. 2003, MOSS):
    * each document keeps only its window-minimum gram hashes (word
    * 5-grams, window 4 → expected density ~2/(w+1)), and ANY verbatim
    * run of ≥ w+k−1 = 8 words is GUARANTEED to contribute at least one
    * shared fingerprint — a deterministic recall floor for long spans,
    * where MinHash/LSH is probabilistic and the df-capped arms are
    * lossy. Fingerprint selection is per-row HOF work (no explode, no
    * shuffle — same map-only shape as text_winnow_fingerprint); pair
    * generation is the family's standard content-keyed equi-join on the
    * selected hashes, O(Σ df_fp²) with winnowing already thinning each
    * doc ~2.5× vs its gram count. Word grams, not char grams: on this
    * corpus's tiny char vocabulary, char-5-gram fingerprints collide
    * into a near-all-pairs candidate set (measured 124k pairs vs 25).
    * Every pair sharing ≥ 1 fingerprint is
    * emitted with its shared count, so the ≥ 8-word guarantee carries
    * through to the output unconditionally; consumers raise the
    * n_shared floor as their precision dial.
    */
  val winnowCandidates: QueryDef = QueryDef(
    "dedup_winnow_candidates",
    (s, dir) => {
      // The fingerprint expression is ONE inline generator child over the
      // ts projection — never an intermediate ghs/fps alias column. A
      // staged `withColumn("ghs", <O(n) md5 transform>)` followed by
      // explode measured 23 s at sf0.1 (vs 0.7 s here): optimizer alias
      // substitution under Generate inlines the non-cheap array alias
      // into the consuming lambda, re-evaluating the whole O(n) build per
      // element — O(n²) per document. The nested form instead re-hashes
      // each gram once per covering window (w=4 bounded), alias-free.
      val fp = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .filter(size(col("ts")) >= 8) // at least one full 4-window of 5-grams
        .select(col("doc_id"), explode(expr(
          """array_distinct(transform(sequence(1, size(ts) - 7),
            |  p -> array_min(transform(sequence(p, p + 3),
            |    q -> md5(CAST(concat_ws(' ', element_at(ts, q), element_at(ts, q + 1),
            |      element_at(ts, q + 2), element_at(ts, q + 3), element_at(ts, q + 4)) AS BINARY))))))""".stripMargin))
          .as("wmin"))
        .localCheckpoint(true) // self-joined below; build the fingerprint set once
      fp.as("a").join(fp.as("b"),
          col("a.wmin") === col("b.wmin") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("ia", "ib")
    },
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      grams AS (
        SELECT doc_id, CAST(p AS INT) AS pos,
               md5(ts[CAST(p AS INT)] || ' ' || ts[CAST(p AS INT)+1] || ' ' ||
                   ts[CAST(p AS INT)+2] || ' ' || ts[CAST(p AS INT)+3] || ' ' ||
                   ts[CAST(p AS INT)+4]) AS h,
               len(ts) - 4 AS ngrams
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 3)) AS p
              FROM toks WHERE len(ts) >= 8) t
      ),
      winnowed AS (
        SELECT doc_id, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin, ngrams
        FROM grams),
      fp AS (SELECT DISTINCT doc_id, wmin FROM winnowed WHERE pos <= ngrams - 3)
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS n_shared
      FROM fp a JOIN fp b ON a.wmin = b.wmin AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      ORDER BY ia, ib
    """.stripMargin.trim))

  /** LSH band-layout sweep — the (b, r) tuning table for the S-curve
    * threshold: the SAME pinned 16-hash signatures re-banded as 2×8
    * (high precision), 4×4 (the production layout) and 8×2 (high
    * recall), each reporting candidate-pair count, the pairs whose
    * estimated Jaccard (minhash agreement ÷ 16) clears 0.5, and the
    * implied precision — the measured form of the 1−(1−s^r)^b curve an
    * operator consults before committing a layout at 100 TB. All three
    * arms probe the session-pinned sketch (zero new corpus scans); pair
    * sets are LSH-bounded per layout; the estimate join is
    * candidate-scoped.
    */
  val lshBandSweep: QueryDef = QueryDef(
    "dedup_lsh_band_sweep",
    (s, dir) => {
      val (_, mh) = sketchSurface(s, dir)
      def arm(nb: Int): DataFrame = {
        val r = 16 / nb
        val keys = (0 until nb).map(b =>
          md5(concat_ws(",", (0 until r).map(j => col(s"h${b * r + j}")): _*).cast("binary")))
        val bands = mh.select(col("doc_id"), posexplode(array(keys: _*)).as(Seq("band", "bkey")))
        val pairs = bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
          .distinct()
        pairs
          .join(mh.as("ma"), col("ia") === col("ma.doc_id"))
          .join(mh.as("mb"), col("ib") === col("mb.doc_id"))
          .select((0 until 16).map(i =>
            when(col(s"ma.h$i") === col(s"mb.h$i"), 1).otherwise(0)).reduce(_ + _).as("matches"))
          .agg(count(lit(1)).as("n_pairs"),
            count(when(col("matches") >= 8, 1)).as("n_est_dups"))
          .select(lit(nb.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
            col("n_pairs"), col("n_est_dups"),
            expr("CASE WHEN n_pairs = 0 THEN NULL ELSE n_est_dups * 1000000 DIV n_pairs END")
              .as("est_precision_ppm"))
      }
      arm(2).unionByName(arm(4)).unionByName(arm(8)).orderBy("bands")
    },
    Some {
      def armSql(nb: Int): String = {
        val r = 16 / nb
        s"""bands$nb AS (
          SELECT doc_id, CAST(i // $r AS INT) AS band,
                 md5(concat_ws(',', ${(0 until r).map(j =>
                   s"max(CASE WHEN i % $r = $j THEN h END)").mkString(", ")})) AS bkey
          FROM mh GROUP BY 1, 2),
        pairs$nb AS (
          SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
          FROM bands$nb a JOIN bands$nb b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        est$nb AS (
          SELECT p.ia, p.ib, COUNT(*) FILTER (WHERE ma.h = mb.h) AS matches
          FROM pairs$nb p
          JOIN mh ma ON ma.doc_id = p.ia
          JOIN mh mb ON mb.doc_id = p.ib AND mb.i = ma.i
          GROUP BY 1, 2),
        row$nb AS (
          SELECT CAST($nb AS BIGINT) AS bands, CAST($r AS BIGINT) AS rows_per_band,
                 COUNT(*) AS n_pairs,
                 COUNT(*) FILTER (WHERE matches >= 8) AS n_est_dups
          FROM est$nb)"""
      }
      s"""
      WITH $shMhSql,
      ${armSql(2)},
      ${armSql(4)},
      ${armSql(8)}
      SELECT bands, rows_per_band, n_pairs, n_est_dups,
             CAST(CASE WHEN n_pairs = 0 THEN NULL
                  ELSE n_est_dups * 1000000 // n_pairs END AS BIGINT) AS est_precision_ppm
      FROM (SELECT * FROM row2 UNION ALL SELECT * FROM row4 UNION ALL SELECT * FROM row8) t
      ORDER BY bands
      """.stripMargin.trim
    })

  /** b-bit minhash (b = 1): keep only the LOWEST BIT of each of the 16
    * minhashes — the signature shrinks from 16 md5 strings to 16 BITS
    * (2 bytes/doc, a ~128× store reduction at this width), and the
    * Jaccard estimator becomes Ĵ = 2·P̂ − 1 where P̂ is the matching-bit
    * fraction (random non-equal minhashes still collide with prob ~1/2,
    * so the match rate must be debiased; clamped at 0). For every LSH
    * candidate pair the query emits the 1-bit estimate NEXT TO the
    * full-width estimate from the same pinned signatures — the gap
    * column is the measured cost of the compression, which is the
    * number a 100 TB corpus weighs against 128× less sketch storage
    * (more hashes at 1 bit each beats fewer full-width hashes per byte).
    * The bit is the last hex digit's parity, identical arithmetic in
    * both engines; both estimates are /16 dyadic, so floats hash-match.
    *
    * Public-knowledge provenance: Li & König, "b-Bit Minwise Hashing",
    * WWW 2010 (the b=1 estimator, two-permutation form simplified to
    * the symmetric r₁=r₂ case).
    */
  val bbitEstimate: QueryDef = QueryDef(
    "dedup_minhash_bbit_estimate",
    (s, dir) => {
      val (_, mh) = sketchSurface(s, dir)
      val Guarded(cands, _, bc) = BroadcastGuard(lshCandsFromSketch(s, dir), PairRowCap)
      def bit(side: String, i: Int) =
        expr(s"(instr('0123456789abcdef', substring($side.h$i, 32, 1)) - 1) % 2")
      val bitMatch = (0 until 16)
        .map(i => when(bit("ma", i) === bit("mb", i), 1).otherwise(0))
        .reduce(_ + _)
      val fullMatch = (0 until 16)
        .map(i => when(col(s"ma.h$i") === col(s"mb.h$i"), 1).otherwise(0))
        .reduce(_ + _)
      bc(cands)
        .join(mh.as("ma"), col("ia") === col("ma.doc_id"))
        .join(mh.as("mb"), col("ib") === col("mb.doc_id"))
        .select(col("ia"), col("ib"),
          bitMatch.cast("long").as("n_bit_match"),
          fullMatch.cast("long").as("n_full_match"))
        .selectExpr("ia", "ib", "n_bit_match",
          "CAST(GREATEST(2 * n_bit_match - 16, 0) AS DOUBLE) / 16.0 AS est_jaccard_bbit",
          "CAST(n_full_match AS DOUBLE) / 16.0 AS est_jaccard_full",
          """CAST(GREATEST(2 * n_bit_match - 16, 0) AS DOUBLE) / 16.0
             - CAST(n_full_match AS DOUBLE) / 16.0 AS est_gap""")
        .orderBy("ia", "ib")
    },
    Some(s"""
      WITH $lshCandsSql,
      bits AS (
        SELECT doc_id, i, h,
               (instr('0123456789abcdef', substring(h, 32, 1)) - 1) % 2 AS bit
        FROM mh),
      m AS (
        SELECT c.ia, c.ib,
               SUM(CASE WHEN ba.bit = bb.bit THEN 1 ELSE 0 END) AS n_bit_match,
               SUM(CASE WHEN ba.h = bb.h THEN 1 ELSE 0 END) AS n_full_match
        FROM cand c
        JOIN bits ba ON ba.doc_id = c.ia
        JOIN bits bb ON bb.doc_id = c.ib AND bb.i = ba.i
        GROUP BY 1, 2)
      SELECT ia, ib, CAST(n_bit_match AS BIGINT) AS n_bit_match,
             CAST(GREATEST(2 * n_bit_match - 16, 0) AS DOUBLE) / 16.0 AS est_jaccard_bbit,
             CAST(n_full_match AS DOUBLE) / 16.0 AS est_jaccard_full,
             CAST(GREATEST(2 * n_bit_match - 16, 0) AS DOUBLE) / 16.0
               - CAST(n_full_match AS DOUBLE) / 16.0 AS est_gap
      FROM m
      ORDER BY ia, ib
    """.stripMargin.trim))

  val defs: Seq[QueryDef] =
    Seq(exact, ngramJaccard, ngramJaccardCapped, prefixFilterJaccard, containment, minhashLsh,
      minhashEstimateQuality, minhashIncrementalDelta, streamDeltaDedup,
      simhash, embeddingCosine, semanticSemdedup, clusterComponents,
      crossSourceAttribution, dupRateBySource, duplicateSpans, minhashSketchMerge,
      spanDedupCut, winnowCandidates, lshBandSweep, bbitEstimate)
}
