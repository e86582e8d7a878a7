package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.{QueryDef, Tables}

/** Third tranche of analytics coverage, each picked for a scale shape the
  * first two tranches didn't exercise:
  *
  *  - co-occurrence graph neighborhood (self-join on a shared-entity key —
  *    the frontier-expansion building block of iterative graph algorithms);
  *  - RANGE interval window frames (value-range frames, not row counts);
  *  - exact-decimal Pearson correlation / sample stddev (Welford built-ins
  *    are float-order-dependent; decimal sums + one identical double
  *    expression are portable AND map-side combinable);
  *  - deterministic stratified sampling by content hash (reproducible
  *    train/eval splits at any parallelism — no RNG state per task);
  *  - TF-IDF-style argmax per document (explode → two-level agg → window);
  *  - multiset (ALL-semantics) set operations;
  *  - mergeable HLL sketches (partial per-group sketches union-merged —
  *    the two-level pattern that replaces exact global distinct at 100 TB).
  */
object AnalyticsExtra {

  private val D = DecimalType(12, 2)

  /** B resamples; ranks 2 and B−1 of the sorted means are the ~5/95%
    * bootstrap bounds at B=32. */
  private val BootB = 32

  val defs: Seq[QueryDef] = Seq(

    // ---- co-supplier graph: suppliers sharing a part with supplier 1 ----
    // Scale shape: dedup to the bipartite edge list once, then a self-join
    // keyed on the shared entity (part). The filter on the probe side cuts
    // the join to one frontier; iterating this join IS distributed BFS.
    QueryDef(
      "graph_cosupplier_shared_parts",
      (s, dir) => {
        val edges = Tables.lineitem(s, dir)
          .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .distinct()
        edges.filter(col("sk") === 1).select(col("pk"))
          .join(edges, "pk")
          .filter(col("sk") =!= 1)
          .groupBy(col("sk").as("co_supplier"))
          .agg(countDistinct(col("pk")).as("shared_parts"))
          .orderBy("co_supplier")
      },
      Some("""
        WITH edges AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem)
        SELECT b.sk AS co_supplier, COUNT(DISTINCT b.pk) AS shared_parts
        FROM edges a JOIN edges b ON a.pk = b.pk
        WHERE a.sk = 1 AND b.sk != 1
        GROUP BY b.sk
        ORDER BY co_supplier
      """.stripMargin.trim)),

    // ---- RANGE frame: trailing-30-day revenue per supplier ---------------
    // A value-range frame (not N rows): every row sums its supplier's
    // revenue over the preceding 30 days of ship dates, peers included.
    QueryDef(
      "window_range_30d_revenue",
      (s, dir) => {
        val w = Window.partitionBy("l_suppkey").orderBy(col("day_s"))
          .rangeBetween(-30L * 86400, 0)
        Tables.lineitem(s, dir)
          .filter(col("l_suppkey") <= 20)
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_shipdate"),
            unix_timestamp(col("l_shipdate")).as("day_s"),
            col("l_extendedprice").cast(D).as("price_d"))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_shipdate"),
            sum(col("price_d")).over(w).cast("double").as("rev_30d"))
          // (suppkey, orderkey, linenumber) is NOT unique in the synthetic
          // data — shipdate + rev make the sort total so emitted order
          // is engine-independent
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate", "rev_30d")
      },
      Some("""
        SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS rev_30d
        FROM lineitem
        WHERE l_suppkey <= 20
        WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate
                     RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
        ORDER BY l_suppkey, l_orderkey, l_linenumber, l_shipdate, rev_30d
      """.stripMargin.trim)),

    // ---- exact-decimal Pearson correlation + sample stddev ---------------
    // corr()/stddev_samp() builtins accumulate in floats (order-dependent
    // across partitionings). Here qty/price are scaled to integer cents so
    // every aggregate is an INTEGER-valued decimal: integer→double casts
    // are correctly rounded in both engines, whereas DuckDB's fractional
    // decimal→double cast double-rounds (observed 1-ulp divergence at
    // sf0.001). Pearson r is scale-invariant so the ×100 factors cancel;
    // stddev divides the cents result by 100 once, identically both sides.
    QueryDef(
      "stats_corr_qty_price",
      (s, dir) => {
        val qc = (col("l_quantity").cast(D) * 100).cast(DecimalType(14, 0))
        val pc = (col("l_extendedprice").cast(D) * 100).cast(DecimalType(16, 0))
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(qc).as("sx"), sum(pc).as("sy"),
            sum(qc * pc).as("sxy"), sum(qc * qc).as("sx2"), sum(pc * pc).as("sy2"))
          .select(col("l_returnflag"), col("n"),
            ((col("n") * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")) /
              (sqrt(col("n") * col("sx2").cast("double") - col("sx").cast("double") * col("sx").cast("double")) *
               sqrt(col("n") * col("sy2").cast("double") - col("sy").cast("double") * col("sy").cast("double"))))
              .as("corr_qty_price"),
            (sqrt((col("n") * col("sx2").cast("double") - col("sx").cast("double") * col("sx").cast("double")) /
              (col("n") * (col("n") - 1).cast("double"))) / 100.0).as("stddev_qty"))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH sums AS (
          SELECT l_returnflag, COUNT(*) AS n,
                 SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))) AS sx,
                 SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(16,0))) AS sy,
                 SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))
                     * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(16,0))) AS sxy,
                 SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))
                     * CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS DECIMAL(14,0))) AS sx2,
                 SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(16,0))
                     * CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS DECIMAL(16,0))) AS sy2
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                 (sqrt(n * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                  sqrt(n * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_qty_price,
               sqrt((n * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
                 (n * CAST(n - 1 AS DOUBLE))) / 100.0 AS stddev_qty
        FROM sums
        ORDER BY l_returnflag
      """.stripMargin.trim)),

    // ---- deterministic stratified sample: md5-hash 1/16 per stratum ------
    // Content-hash sampling is reproducible at any parallelism and lets
    // train/eval splits be recomputed instead of stored — no per-task RNG.
    QueryDef(
      "sample_stratified_hash",
      (s, dir) => {
        Tables.orders(s, dir)
          .groupBy("o_orderpriority")
          .agg(
            count(lit(1)).as("n_total"),
            count(when(substring(md5(col("o_orderkey").cast("string").cast("binary")), 1, 1) === "0", 1))
              .as("n_sampled"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority,
               COUNT(*) AS n_total,
               COUNT(*) FILTER (WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0') AS n_sampled
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """.stripMargin.trim)),

    // ---- deterministic FIXED-SIZE uniform sample: K smallest hashes ------
    // Rate sampling (above) can't promise an exact row budget; eval sets
    // and human-review queues need EXACTLY K. "ORDER BY md5(id) LIMIT K"
    // is the uniform choice but plans a corpus-wide TopK sort at scale —
    // TwoStageOrder.kSmallestRows keeps K per input partition and takes
    // K of the pooled ≤ P·K survivors: same rows, bit-deterministic at
    // any parallelism, no data-proportional single-partition stage.
    QueryDef(
      "sample_uniform_fixed_k",
      (s, dir) => {
        val hashed = Tables.documents(s, dir)
          .select(md5(col("doc_id").cast("string").cast("binary")).as("h"),
            col("doc_id"), col("source"), col("n_chars"))
        TwoStageOrder.kSmallestRows(hashed, "h", 200)
          .select("doc_id", "source", "n_chars")
      },
      Some("""
        SELECT doc_id, source, n_chars
        FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR))
        LIMIT 200
      """.stripMargin.trim)),

    // ---- Neyman-allocation stratified sample (Neyman 1934) ---------------
    // The variance-OPTIMAL split of a fixed labeling/eval budget K across
    // strata: n_h ∝ N_h·S_h, so high-variance strata get proportionally
    // more of the budget than the proportional split sample_stratified_hash
    // draws. Exactness: per-stratum variance stays integer to the end —
    // cents as BIGINT, Σx and Σx² in DECIMAL(38,0) (headroom to ~1e9
    // rows/stratum before sc² approaches 38 digits), varnum = N·Σx²−(Σx)²
    // — then ONE shared-text sqrt/division produces S_h (IEEE sqrt is
    // correctly rounded in both engines), the weights are re-quantized to
    // integers (⌊N_h·S_h⌋) and the allocation is a DECIMAL(38,0)
    // cross-multiplied integer division. The draw itself is the
    // content-hash discipline: the alloc_h smallest md5(o_orderkey) per
    // stratum, via a CONSTANT-K per-stratum rank refined by the
    // data-dependent alloc_h join. Spark's InferWindowGroupLimit plans the
    // constant-K rank filter as a partial WindowGroupLimit (local sort,
    // ≤ K rows per stratum) before the stratum Exchange and a final one
    // under the Window, so only the kept rows are shuffled.
    QueryDef(
      "sample_stratified_neyman",
      (s, dir) => {
        val K = 1000
        val base = Tables.orders(s, dir)
          .select(col("o_orderpriority").as("stratum"), col("o_orderkey"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)").as("cents"),
            md5(col("o_orderkey").cast("string").cast("binary")).as("h"))
          .localCheckpoint(true) // stats pass + selection pass
        val stats = base.groupBy("stratum").agg(
            count(lit(1)).as("n_total"),
            sum(col("cents").cast("decimal(38,0)")).as("sc"),
            sum(expr("CAST(cents * cents AS DECIMAL(38,0))")).as("sc2"))
          .withColumn("s_cents", expr(
            """sqrt(CAST(CAST(n_total AS DECIMAL(38,0)) * sc2 - sc * sc AS DOUBLE)
              | / (CAST(n_total AS DOUBLE) * CAST(n_total - 1 AS DOUBLE)))""".stripMargin))
          .withColumn("wq", expr(
            "CAST(FLOOR(CAST(n_total AS DOUBLE) * s_cents) AS BIGINT)"))
        val tot = stats.agg(sum(col("wq")).as("t")) // 1-row, broadcast
        val alloc = stats.crossJoin(broadcast(tot))
          .withColumn("alloc", expr(
            s"CAST(CAST(wq AS DECIMAL(38,0)) * $K DIV t AS BIGINT)"))
        val ranked = base.withColumn("rank", row_number().over(
            Window.partitionBy("stratum").orderBy(asc("h"), asc("o_orderkey"))))
          .filter(col("rank") <= K) // constant-K: planned as a WindowGroupLimit
        val sampled = ranked
          .join(broadcast(alloc.select(col("stratum"), col("alloc"))), "stratum")
          .filter(col("rank") <= col("alloc"))
          .groupBy("stratum")
          .agg(count(lit(1)).as("n_sampled"),
            expr("SUM(cents) DIV COUNT(*)").as("sample_mean_cents"))
        // LEFT join: a zero-variance stratum legitimately draws alloc = 0
        // and must still appear in the artifact (n_sampled 0, mean NULL)
        alloc
          .join(broadcast(sampled), Seq("stratum"), "left")
          .select(col("stratum"), col("n_total"), col("s_cents"), col("alloc"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
            col("sample_mean_cents"),
            expr("alloc * 1000000 DIV n_total").as("sampling_ppm"))
          .orderBy("stratum")
      },
      Some("""
        WITH base AS (
          SELECT o_orderpriority AS stratum, o_orderkey,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
                 md5(CAST(o_orderkey AS VARCHAR)) AS h
          FROM orders),
        stats AS (
          SELECT stratum, COUNT(*) AS n_total,
                 SUM(CAST(cents AS HUGEINT)) AS sc,
                 SUM(CAST(cents * cents AS HUGEINT)) AS sc2
          FROM base GROUP BY 1),
        weighted AS (
          SELECT stratum, n_total,
                 sqrt(CAST(CAST(n_total AS HUGEINT) * sc2 - sc * sc AS DOUBLE)
                      / (CAST(n_total AS DOUBLE) * CAST(n_total - 1 AS DOUBLE))) AS s_cents,
                 CAST(FLOOR(CAST(n_total AS DOUBLE)
                      * sqrt(CAST(CAST(n_total AS HUGEINT) * sc2 - sc * sc AS DOUBLE)
                             / (CAST(n_total AS DOUBLE) * CAST(n_total - 1 AS DOUBLE))))
                   AS BIGINT) AS wq
          FROM stats),
        tot AS (SELECT SUM(wq) AS t FROM weighted),
        alloc AS (
          SELECT w.*, CAST(CAST(wq AS HUGEINT) * 1000 // t AS BIGINT) AS alloc
          FROM weighted w CROSS JOIN tot),
        ranked AS (
          SELECT stratum, cents,
                 ROW_NUMBER() OVER (PARTITION BY stratum
                   ORDER BY h ASC, o_orderkey ASC) AS rank
          FROM base),
        sampled AS (
          SELECT r.stratum, COUNT(*) AS n_sampled,
                 CAST(SUM(cents) // COUNT(*) AS BIGINT) AS sample_mean_cents
          FROM ranked r JOIN alloc a ON r.stratum = a.stratum
          WHERE r.rank <= a.alloc
          GROUP BY 1)
        SELECT a.stratum, a.n_total, a.s_cents, a.alloc,
               CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
               s.sample_mean_cents,
               CAST(a.alloc * 1000000 // a.n_total AS BIGINT) AS sampling_ppm
        FROM alloc a LEFT JOIN sampled s ON a.stratum = s.stratum
        ORDER BY a.stratum
      """.stripMargin.trim)),

    // ---- TF-IDF-surrogate argmax term per document -----------------------
    // score = tf * N / df : exact integers + one IEEE division, so it ranks
    // identically to tf-idf on this corpus without log() portability risk.
    QueryDef(
      "text_tfidf_top_term",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // 1-row corpus size, cross-joined (Catalyst broadcasts it) — no
        // driver-side count(), the whole query is one declarative plan
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val terms = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
        val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        // df FROM tf: tf already holds exactly one row per (doc, term),
        // so document frequency is a re-aggregation of it — the separate
        // distinct() re-shuffled the raw term instances a second time
        // over the same (doc_id, term) key (r9)
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        // argmax by (score desc, term asc) as a min_by hash aggregation
        // with map-side combine — replaces the r5 row_number window,
        // whose full shuffle+sort of the scored tf table cost ~0.4 s of
        // the query (same winner per doc: min of (-score, term) ties
        // exactly like ORDER BY score DESC, term ASC; scores are > 0)
        tf.join(df, "term").crossJoin(n)
          .select(col("doc_id"), col("term"),
            (col("tf") * col("n_docs")).cast("double") / col("df").cast("double") as "score")
          .groupBy("doc_id")
          .agg(min_by(struct(col("term"), col("score")),
            struct(negate(col("score")), col("term"))).as("top"))
          .select(col("doc_id"), col("top.term").as("top_term"), col("top.score").as("score"))
          .orderBy("doc_id")
      },
      Some("""
        WITH terms AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        t AS (SELECT * FROM terms WHERE term != ''),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM t) GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS score,
                 ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                   ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) DESC, tf.term ASC) AS rn
          FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
        SELECT doc_id, term AS top_term, score
        FROM scored WHERE rn = 1
        ORDER BY doc_id
      """.stripMargin.trim)),

    // ---- multiset EXCEPT ALL: 1996 return-flag bag minus 1997's ----------
    QueryDef(
      "setop_except_all_flags",
      (s, dir) => {
        def flags(year: Int) = Tables.lineitem(s, dir)
          .filter(org.apache.spark.sql.functions.year(col("l_shipdate")) === year)
          .select("l_returnflag")
        flags(1996).exceptAll(flags(1997))
          .groupBy("l_returnflag").agg(count(lit(1)).as("n_surplus"))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH surplus AS (
          SELECT l_returnflag FROM lineitem WHERE year(l_shipdate) = 1996
          EXCEPT ALL
          SELECT l_returnflag FROM lineitem WHERE year(l_shipdate) = 1997)
        SELECT l_returnflag, COUNT(*) AS n_surplus
        FROM surplus
        GROUP BY l_returnflag
        ORDER BY l_returnflag
      """.stripMargin.trim)),

    // ---- ntile quartiles: account-balance quartile per nation ------------
    QueryDef(
      "window_ntile_quartiles",
      (s, dir) => {
        val w = Window.partitionBy("c_nationkey").orderBy(asc("c_acctbal"), asc("c_custkey"))
        Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey").cast("long").as("nationkey"),
            ntile(4).over(w).cast("long").as("quartile"))
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey,
               CAST(c_nationkey AS BIGINT) AS nationkey,
               CAST(NTILE(4) OVER (PARTITION BY c_nationkey
                 ORDER BY c_acctbal ASC, c_custkey ASC) AS BIGINT) AS quartile
        FROM customer
        ORDER BY c_custkey
      """.stripMargin.trim)),

    // ---- unpivot: wide per-flag sums → long (measure, value) rows --------
    QueryDef(
      "unpivot_flag_measures",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(
            sum(col("l_quantity").cast(D)).cast("double").as("qty"),
            sum(col("l_extendedprice").cast(D)).cast("double").as("price"),
            sum(col("l_discount").cast(D)).cast("double").as("discount"))
          .unpivot(
            ids = Array(col("l_returnflag")),
            values = Array(col("qty"), col("price"), col("discount")),
            variableColumnName = "measure",
            valueColumnName = "value")
          .orderBy("l_returnflag", "measure")
      },
      Some("""
        WITH wide AS (
          SELECT l_returnflag,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS price,
                 CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS discount
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, measure, value
        FROM wide
        UNPIVOT (value FOR measure IN (qty, price, discount))
        ORDER BY l_returnflag, measure
      """.stripMargin.trim)),

    // ---- time-series gap fill: dense (day × priority) grid, zero-filled --
    // Dimension completion: generate the full day span once (sequence +
    // explode), cross the tiny dimension set (broadcast), left-join the
    // sparse counts. The grid side is generated, never shuffled at scale.
    QueryDef(
      "ts_gapfill_daily_orders",
      (s, dir) => {
        val ord = Tables.orders(s, dir)
          .select(to_date(col("o_orderdate")).as("day"), col("o_orderpriority"))
        val days = ord.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
        val dims = ord.select("o_orderpriority").distinct()
        val counts = ord.groupBy("day", "o_orderpriority").agg(count(lit(1)).as("n"))
        days.crossJoin(dims)
          .join(counts, Seq("day", "o_orderpriority"), "left")
          .select(col("day"), col("o_orderpriority"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBy("day", "o_orderpriority")
      },
      Some("""
        WITH span AS (
          SELECT MIN(CAST(o_orderdate AS DATE)) AS d0, MAX(CAST(o_orderdate AS DATE)) AS d1
          FROM orders),
        days AS (
          SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
          FROM span),
        dims AS (SELECT DISTINCT o_orderpriority FROM orders),
        counts AS (
          SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority, COUNT(*) AS n
          FROM orders GROUP BY 1, 2)
        SELECT d.day AS day, p.o_orderpriority AS o_orderpriority,
               COALESCE(c.n, 0) AS n
        FROM days d CROSS JOIN dims p
        LEFT JOIN counts c ON c.day = d.day AND c.o_orderpriority = p.o_orderpriority
        ORDER BY d.day, p.o_orderpriority
      """.stripMargin.trim)),

    // ---- theta join against a tiny range dimension -----------------------
    // The broadcast-range-dim pattern: a 4-row bracket table joined on a
    // BETWEEN predicate. The build side is structurally tiny, so the
    // nested-loop is a per-row scan of 4 brackets — the right physical
    // shape (and the declarative form of agg_price_buckets' CASE).
    QueryDef(
      "join_theta_price_brackets",
      (s, dir) => {
        val brackets = s.createDataFrame(Seq(
          ("budget", 0.0, 999.99), ("mid", 1000.0, 1399.99),
          ("premium", 1400.0, 1799.99), ("luxury", 1800.0, 1e9)))
          .toDF("bracket", "lo", "hi")
        Tables.part(s, dir)
          .join(broadcast(brackets),
            col("p_retailprice") >= col("lo") && col("p_retailprice") <= col("hi"))
          .groupBy("bracket")
          .agg(count(lit(1)).as("n_parts"),
            sum(col("p_retailprice").cast(D)).cast("double").as("total_price"))
          .orderBy("bracket")
      },
      Some("""
        WITH brackets(bracket, lo, hi) AS (VALUES
          ('budget', 0.0, 999.99), ('mid', 1000.0, 1399.99),
          ('premium', 1400.0, 1799.99), ('luxury', 1800.0, 1000000000.0))
        SELECT bracket, COUNT(*) AS n_parts,
               CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        FROM part JOIN brackets
          ON p_retailprice >= lo AND p_retailprice <= hi
        GROUP BY bracket
        ORDER BY bracket
      """.stripMargin.trim)),

    // ---- correlated EXISTS through the SQL surface -----------------------
    // Catalyst rewrites the correlated EXISTS into a left-semi join; the
    // SQL form is coverage the DataFrame-API semi join query doesn't give.
    QueryDef(
      "subquery_exists_multi_supplier_parts",
      (s, dir) => {
        Tables.part(s, dir).createOrReplaceTempView("part_v")
        Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
        s.sql("""
          SELECT p_partkey, p_brand
          FROM part_v p
          WHERE EXISTS (
            SELECT 1 FROM lineitem_v l
            WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49)
          ORDER BY p_partkey
        """)
      },
      Some("""
        SELECT p_partkey, p_brand
        FROM part p
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49)
        ORDER BY p_partkey
      """.stripMargin.trim)),

    // ---- mergeable HLL sketches: per-nation partials, union to global ----
    // The 100 TB replacement for global COUNT(DISTINCT): sketch once per
    // partition-group, merge sketches (tiny) instead of reshuffling rows.
    // DuckDB can't reproduce DataSketches binaries, so the oracle checks
    // the exact-side twin: the query emits exact distinct counts plus
    // booleans asserting each HLL estimate lands within a fixed relative
    // bound (10%; default lgConfigK=12 → ~1.6% rsd, so the bound has
    // wide margin) — the oracle recomputes the exact side and expects
    // every bound check TRUE, making estimator regressions hash-visible.
    QueryDef(
      "approx_hll_mergeable_union",
      (s, dir) => {
        val perNation = Tables.customer(s, dir)
          .groupBy("c_nationkey")
          .agg(hll_sketch_agg(col("c_custkey")).as("sk"),
            count_distinct(col("c_custkey")).as("nation_exact"))
        val global = perNation
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).cast("long").as("g_est"),
            sum(col("nation_exact")).as("global_exact")) // customers partition by nation → Σ = global distinct
        perNation
          .select(col("c_nationkey").cast("long").as("nationkey"),
            hll_sketch_estimate(col("sk")).cast("long").as("n_est"),
            col("nation_exact"))
          .crossJoin(global)
          .select(col("nationkey"), col("nation_exact"),
            (abs(col("n_est") - col("nation_exact")) <=
              col("nation_exact").cast("double") * 0.10).as("nation_ok"),
            col("global_exact"),
            (abs(col("g_est") - col("global_exact")) <=
              col("global_exact").cast("double") * 0.10).as("global_ok"))
          .orderBy("nationkey")
      },
      Some("""
        WITH pn AS (
          SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                 count(DISTINCT c_custkey) AS nation_exact
          FROM customer GROUP BY 1),
        g AS (SELECT count(DISTINCT c_custkey) AS global_exact FROM customer)
        SELECT nationkey, nation_exact, TRUE AS nation_ok, global_exact, TRUE AS global_ok
        FROM pn CROSS JOIN g
        ORDER BY nationkey
      """.stripMargin.trim)),

    // ---- trailing-window anomaly detection over daily revenue ----------
    // Monitoring operator: days whose revenue deviates > 2σ from the
    // TRAILING 30-day window (current day excluded — no self-masking).
    // The window stats are exact-decimal sums (sum, sum of squares) so
    // both engines derive mean/σ from IDENTICAL exact inputs; σ itself is
    // one IEEE sqrt (correctly rounded by spec — portable, unlike the
    // order-dependent float accumulation inside stddev_samp builtins,
    // same reasoning as stats_corr_qty_price). Shape: one date-grain
    // aggregation, one ordered window over ~days rows — trivially
    // scale-safe (the window input is already aggregated to date grain).
    QueryDef(
      "ts_anomaly_daily_revenue",
      (s, dir) => {
        // integer CENTS end-to-end (the stats_corr idiom): daily revenue,
        // window sums and sums-of-squares are exact BIGINTs, so every
        // int→double conversion is the correctly-rounded single step both
        // engines share. (A decimal-typed draft differed in the last ulp:
        // DuckDB converts decimal→double as int128→double ÷ 10^scale —
        // TWO roundings — where Java BigDecimal rounds once.)
        val daily = Tables.orders(s, dir)
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg((sum(col("o_totalprice").cast(D)) * 100).cast("long").as("rc"))
          .withColumn("day_i", datediff(col("d"), lit("1992-01-01")))
        val w = Window.orderBy(col("day_i")).rangeBetween(-30, -1)
        daily
          .withColumn("nw", count(lit(1)).over(w))
          .withColumn("s1", sum(col("rc")).over(w))
          // rc² overflows int64 on real data (sf0.1 daily revenue ≈ 2.3e9
          // cents ⇒ rc² ≈ 5e18, a 30-day sum ≈ 9e19 >> Long.Max — Spark
          // would wrap silently, DuckDB errors). Square and sum in exact
          // wide integers: DECIMAL(38,0) here, HUGEINT in the oracle —
          // scale-0, so the final →double is ONE correctly-rounded
          // conversion from the same exact integer in both engines (the
          // scale-4 double-rounding hazard documented below does not
          // apply).
          .withColumn("ssq", sum(col("rc").cast(DecimalType(19, 0))
            * col("rc").cast(DecimalType(19, 0))).over(w))
          .filter(col("nw") >= 10)
          // ssq can exceed 2^53 (≈9e19 at sf0.1), where wide-int→double
          // conversion rounds DIFFERENTLY across engines (observed ulp
          // mismatch between Java BigDecimal and DuckDB HUGEINT paths).
          // Split into exact hi/lo halves (< 2^53 each) and rebuild with
          // two IEEE ops — deterministic and identical on both engines.
          .withColumn("ssq_d",
            expr("CAST(ssq DIV 1048576 AS DOUBLE)") * lit(1048576.0)
              + expr("CAST(ssq % 1048576 AS DOUBLE)"))
          .withColumn("mu_c", col("s1").cast("double") / col("nw"))
          .withColumn("variance", greatest(
            (col("ssq_d") - col("s1").cast("double") * col("s1").cast("double") / col("nw"))
              / (col("nw") - 1), lit(0.0)))
          .withColumn("sd_c", sqrt(col("variance")))
          .filter(abs(col("rc").cast("double") - col("mu_c")) > lit(2.0) * col("sd_c"))
          .select(col("d"),
            (col("rc").cast("double") / 100.0).as("rev"),
            (col("mu_c") / 100.0).as("mu"),
            (col("sd_c") / 100.0).as("sd"),
            ((col("rc").cast("double") - col("mu_c")) / col("sd_c")).as("z"))
          .orderBy("d")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS d,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS rc
          FROM orders GROUP BY 1),
        di AS (
          SELECT d, rc, date_diff('day', DATE '1992-01-01', d) AS day_i
          FROM daily),
        win AS (
          SELECT d, rc,
                 COUNT(*) OVER w AS nw,
                 CAST(SUM(rc) OVER w AS BIGINT) AS s1,
                 SUM(CAST(rc AS HUGEINT) * rc) OVER w AS ssq
          FROM di
          WINDOW w AS (ORDER BY day_i RANGE BETWEEN 30 PRECEDING AND 1 PRECEDING)),
        stats AS (
          SELECT d, rc,
                 CAST(s1 AS DOUBLE) / nw AS mu_c,
                 sqrt(greatest(((CAST(ssq // 1048576 AS DOUBLE) * 1048576.0
                                 + CAST(ssq % 1048576 AS DOUBLE))
                                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / nw)
                               / (nw - 1), 0.0)) AS sd_c
          FROM win WHERE nw >= 10)
        SELECT d, CAST(rc AS DOUBLE) / 100.0 AS rev,
               mu_c / 100.0 AS mu, sd_c / 100.0 AS sd,
               (CAST(rc AS DOUBLE) - mu_c) / sd_c AS z
        FROM stats
        WHERE abs(CAST(rc AS DOUBLE) - mu_c) > 2.0 * sd_c
        ORDER BY d
      """.stripMargin.trim)),

    // ---- exact grouped quartiles by rank ------------------------------
    // Per-source p25/p50/p75 of document length as EXACT order statistics
    // (value at rank ceil(q·n) under the (n_chars, doc_id) total order —
    // integer ranks, no interpolation, no float quantile estimators, so
    // both engines agree bit-for-bit and ties are deterministic). The
    // grouped sibling of agg_exact_median_by_rank: one window rank per
    // source partition + a 3-way conditional fold; at 100 TB each
    // source's sort is partition-local and the output is |sources| rows.
    QueryDef(
      "stats_length_quartiles_by_source",
      (s, dir) => {
        val w = Window.partitionBy("source").orderBy(asc("n_chars"), asc("doc_id"))
        Tables.documents(s, dir)
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("r", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
          .filter(col("r") === ceil(col("n") * 0.25) ||
            col("r") === ceil(col("n") * 0.5) ||
            col("r") === ceil(col("n") * 0.75))
          .groupBy(col("source"), col("n"))
          .agg(
            max(when(col("r") === ceil(col("n") * 0.25), col("n_chars"))).as("p25"),
            max(when(col("r") === ceil(col("n") * 0.5), col("n_chars"))).as("p50"),
            max(when(col("r") === ceil(col("n") * 0.75), col("n_chars"))).as("p75"))
          .select(col("source"), col("n"), col("p25"), col("p50"), col("p75"))
          .orderBy("source")
      },
      Some("""
        WITH ranked AS (
          SELECT source, n_chars,
                 ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY n_chars ASC, doc_id ASC) AS r,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM documents)
        SELECT source, n,
               MAX(CASE WHEN r = CAST(ceil(n * 0.25) AS BIGINT) THEN n_chars END) AS p25,
               MAX(CASE WHEN r = CAST(ceil(n * 0.5) AS BIGINT) THEN n_chars END) AS p50,
               MAX(CASE WHEN r = CAST(ceil(n * 0.75) AS BIGINT) THEN n_chars END) AS p75
        FROM ranked
        WHERE r = CAST(ceil(n * 0.25) AS BIGINT)
           OR r = CAST(ceil(n * 0.5) AS BIGINT)
           OR r = CAST(ceil(n * 0.75) AS BIGINT)
        GROUP BY source, n
        ORDER BY source
      """.stripMargin.trim)),

    // ---- winsorized mean per event type (robust location estimate) ----
    // Outlier-robust mean for monitoring/quality metrics: clamp values at
    // the exact p5/p95 RANK positions (ceil(q·n) under the (cents,
    // event_id) total order — the stats_length_quartiles discipline),
    // then average the clamped cents. Values ride as exact integer cents
    // (double → DECIMAL(12,2) → ×100, the stats_corr idiom), the clamped
    // sum is an exact BIGINT, and the only floats are the final two IEEE
    // divisions both engines share. ONE shuffle on event_type: rank,
    // row-count, and the two clamp bounds all come from windows over the
    // same partition.
    QueryDef(
      "stats_winsorized_mean",
      (s, dir) => {
        val wSort = Window.partitionBy("event_type").orderBy(asc("vc"), asc("event_id"))
        val wAll = Window.partitionBy("event_type")
        Tables.events(s, dir)
          .select(col("event_type"), col("event_id"),
            (col("value").cast(D) * 100).cast("long").as("vc"))
          .withColumn("rn", row_number().over(wSort))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("lo", max(when(col("rn") === expr("(n + 19) DIV 20"), col("vc"))).over(wAll))
          .withColumn("hi", max(when(col("rn") === expr("(19 * n + 19) DIV 20"), col("vc"))).over(wAll))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            min(col("lo")).as("lo_cents"), min(col("hi")).as("hi_cents"),
            sum(greatest(col("lo"), least(col("hi"), col("vc")))).as("sc"))
          .select(col("event_type"), col("n"), col("lo_cents"), col("hi_cents"),
            (col("sc").cast("double") / col("n") / 100.0).as("winsorized_mean"))
          .orderBy("event_type")
      },
      Some("""
        WITH cents AS (
          SELECT event_type, event_id,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events),
        ranked AS (
          SELECT event_type, vc,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY vc ASC, event_id ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM cents),
        bounded AS (
          SELECT event_type, vc, n,
                 MAX(CASE WHEN rn = (n + 19) // 20 THEN vc END)
                   OVER (PARTITION BY event_type) AS lo,
                 MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN vc END)
                   OVER (PARTITION BY event_type) AS hi
          FROM ranked)
        SELECT event_type, COUNT(*) AS n,
               MIN(lo) AS lo_cents, MIN(hi) AS hi_cents,
               CAST(SUM(GREATEST(lo, LEAST(hi, vc))) AS DOUBLE) / COUNT(*) / 100.0
                 AS winsorized_mean
        FROM bounded
        GROUP BY event_type
        ORDER BY event_type
      """.stripMargin.trim)),

    // ---- exact two-sample KS drift statistic (view vs purchase value) --
    // Distribution-drift detection with NO floats until the last step:
    // both samples reduce to per-distinct-cents counts, one ordered
    // cumulative pass builds both empirical CDFs, and the KS distance is
    // the integer argmax of |cum₁·n₂ − cum₂·n₁| (cross-multiplied — the
    // exact numerator of |F₁−F₂| over the common denominator n₁·n₂),
    // reported in ppm by one integer division plus the cents location
    // where the gap peaks (smallest location on ties). The cumulative
    // pass runs over the DISTINCT-value table through
    // [[TwoStageOrder.withRunningSums]] (range partition + local prefix
    // + broadcast offsets): the r12 measured-boundedness audit showed
    // the distinct-cents frame growing 8.5× under 10× data — "bounded
    // by value resolution" does not hold until domain saturation, so
    // the CDF build must be the distributed cumsum, not a global
    // window.
    QueryDef(
      "stats_ks_drift",
      (s, dir) => {
        val cents = Tables.events(s, dir)
          .filter(col("event_type").isin("view", "purchase"))
          .select((col("value").cast(D) * 100).cast("long").as("vc"),
            when(col("event_type") === "view", 1L).otherwise(0L).as("g1"))
        val perV = cents.groupBy("vc")
          .agg(sum(col("g1")).as("c1"), sum(lit(1L) - col("g1")).as("c2"))
        val cum = TwoStageOrder.withRunningSums(perV, Seq(asc("vc")),
          Seq("c1" -> "cum1", "c2" -> "cum2"))
        val tot = perV.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
        // cross-multiplication in WIDE integers (the ts_anomaly
        // discipline): cum·n reaches n² — int64 wraps silently in Spark
        // past ~3·10⁶ rows per sample while DuckDB's HUGEINT stays exact
        cum.crossJoin(broadcast(tot))
          .withColumn("d", abs(
            col("cum1").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("n2") -
            col("cum2").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("n1")))
          .orderBy(desc("d"), asc("vc"))
          .limit(1)
          .select(col("n1"), col("n2"),
            expr("""CAST((d * 1000000)
                    DIV (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)""").as("ks_ppm"),
            col("vc").as("ks_at_cents"))
      },
      Some("""
        WITH cents AS (
          SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc,
                 CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS g1
          FROM events WHERE event_type IN ('view', 'purchase')),
        perv AS (
          SELECT vc, CAST(SUM(g1) AS BIGINT) AS c1,
                 CAST(SUM(1 - g1) AS BIGINT) AS c2
          FROM cents GROUP BY 1),
        cum AS (
          SELECT vc,
                 SUM(c1) OVER (ORDER BY vc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
                 SUM(c2) OVER (ORDER BY vc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
          FROM perv),
        tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM perv)
        SELECT n1, n2,
               CAST(ABS(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1) * 1000000
                    // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS ks_ppm,
               vc AS ks_at_cents
        FROM cum CROSS JOIN tot
        ORDER BY ABS(CAST(cum1 AS HUGEINT) * n2 - CAST(cum2 AS HUGEINT) * n1) DESC, vc ASC
        LIMIT 1
      """.stripMargin.trim)),

    // ---- chi-square independence (categorical drift / association) ------
    /* Pearson chi-square between order priority and status, quantized to
     * exact integers: expected counts are declared in MILLI units
     * (E_milli = R·C·1000 DIV N — the only quantization, relative error
     * ≤ 1e-3) and every cell contribution is then pure 128-bit integer
     * arithmetic: contrib_ppm = d_milli²·1000 DIV E_milli with
     * d_milli = O·1000 − E_milli. The naive (O·N − R·C)² form would
     * overflow even HUGEINT at ~1e12 rows; the milli-quantized form
     * peaks at d_milli² ≈ 1e33 — safely inside DECIMAL(38,0). Shape:
     * one contingency groupBy (map-side combinable), then windows over
     * the |cells| rows only.
     */
    QueryDef(
      "stats_chi2_independence",
      (s, dir) => {
        val cells = Tables.orders(s, dir)
          .groupBy(col("o_orderpriority").as("priority"),
            col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("o"))
        cells
          .withColumn("r", expr("SUM(o) OVER (PARTITION BY priority)"))
          .withColumn("c", expr("SUM(o) OVER (PARTITION BY status)"))
          .withColumn("n", expr("SUM(o) OVER ()"))
          .withColumn("e_milli", expr(
            "CAST((CAST(r AS DECIMAL(38,0)) * c * 1000) DIV n AS BIGINT)"))
          .withColumn("contrib_ppm", expr(
            """CAST((CAST(o * 1000 - e_milli AS DECIMAL(38,0))
                     * (o * 1000 - e_milli) * 1000)
                    DIV e_milli AS BIGINT)"""))
          .withColumn("chi2_ppm", expr("SUM(contrib_ppm) OVER ()"))
          .select("priority", "status", "o", "e_milli", "contrib_ppm", "chi2_ppm")
          .orderBy("priority", "status")
      },
      Some("""
        WITH cells AS (
          SELECT o_orderpriority AS priority, o_orderstatus AS status,
                 COUNT(*) AS o
          FROM orders GROUP BY 1, 2),
        tot AS (
          SELECT priority, status, o,
                 SUM(o) OVER (PARTITION BY priority) AS r,
                 SUM(o) OVER (PARTITION BY status) AS c,
                 SUM(o) OVER () AS n
          FROM cells),
        ex AS (
          SELECT priority, status, o,
                 CAST((CAST(r AS HUGEINT) * c * 1000) // n AS BIGINT) AS e_milli
          FROM tot),
        contrib AS (
          SELECT priority, status, o, e_milli,
                 CAST((CAST(o * 1000 - e_milli AS HUGEINT)
                       * (o * 1000 - e_milli) * 1000)
                      // e_milli AS BIGINT) AS contrib_ppm
          FROM ex)
        SELECT priority, status, o, e_milli, contrib_ppm,
               CAST(SUM(contrib_ppm) OVER () AS BIGINT) AS chi2_ppm
        FROM contrib
        ORDER BY priority, status
      """.stripMargin.trim)),

    // ---- Mann-Whitney U (nonparametric two-sample location test) --------
    /* Rank-sum U between src0 and src1 document lengths (tokens),
     * integer-exact: tied values take the average rank, kept integral by
     * working in DOUBLED ranks — a tie group of size g preceded by L
     * smaller values occupies ranks L+1..L+g, so its doubled average
     * rank is 2L+g+1 exactly. U1×2 = Σ_groups n1_g·(2L+g+1) − n1(n1+1),
     * U2×2 = 2n1n2 − U1×2, and the effect size is the AUC estimate
     * U1/(n1n2) in ppm (widened). No per-row global window: ranks come
     * from a groupBy(value) + a cumulative window over DISTINCT values
     * only (bounded by the value domain, not the corpus).
     */
    QueryDef(
      "stats_rank_sum_u",
      (s, dir) => {
        val lens = Tables.documents(s, dir)
          .filter(col("source").isin("src0", "src1"))
          .select(col("source"), size(split(col("text"), " ")).cast("long").as("v"))
        val groups = lens.groupBy("v")
          .agg(count(lit(1)).as("g"),
            count(when(col("source") === "src0", 1)).as("g1"))
        val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        groups
          .withColumn("l", coalesce(sum(col("g")).over(w), lit(0L)))
          .agg(
            sum(col("g1")).as("n1"),
            expr("SUM(g - g1)").as("n2"),
            // rank sums are O(N²): widen BEFORE the per-group product and
            // keep the whole U computation in DECIMAL(38,0) (HUGEINT in
            // the twin) — the same wrap class fixed for the ppm sums
            expr("SUM(CAST(g1 AS DECIMAL(38,0)) * (2 * l + g + 1))").as("r1_x2w"))
          .select(col("n1"), col("n2"),
            expr("""CAST(r1_x2w - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)
                    AS BIGINT)""").as("u1_x2"),
            expr("""CAST(CAST(2 AS DECIMAL(38,0)) * n1 * n2
                    - (r1_x2w - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1))
                    AS BIGINT)""").as("u2_x2"),
            expr("""CAST(((r1_x2w - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) * 1000000)
                    DIV (CAST(2 AS DECIMAL(38,0)) * n1 * n2) AS BIGINT)""").as("auc_ppm"))
      },
      Some("""
        WITH lens AS (
          SELECT source, len(string_split(text, ' ')) AS v
          FROM documents WHERE source IN ('src0', 'src1')),
        groups AS (
          SELECT v, COUNT(*) AS g,
                 COUNT(*) FILTER (WHERE source = 'src0') AS g1
          FROM lens GROUP BY 1),
        ranked AS (
          SELECT v, g, g1,
                 COALESCE(SUM(g) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS l
          FROM groups),
        agg AS (
          SELECT CAST(SUM(g1) AS BIGINT) AS n1,
                 CAST(SUM(g - g1) AS BIGINT) AS n2,
                 SUM(CAST(g1 AS HUGEINT) * (2 * l + g + 1)) AS r1_x2w
          FROM ranked)
        SELECT n1, n2,
               CAST(r1_x2w - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_x2,
               CAST(CAST(2 AS HUGEINT) * n1 * n2
                    - (r1_x2w - CAST(n1 AS HUGEINT) * (n1 + 1)) AS BIGINT) AS u2_x2,
               CAST(((r1_x2w - CAST(n1 AS HUGEINT) * (n1 + 1)) * 1000000)
                    // (CAST(2 AS HUGEINT) * n1 * n2) AS BIGINT) AS auc_ppm
        FROM agg
      """.stripMargin.trim)),

    // ---- robust (median/MAD) anomaly detection ---------------------------
    /* The breakdown-resistant sibling of ts_anomaly_daily_revenue: a
     * rolling mean/stddev detector is itself dragged by the outliers it
     * hunts (one 10× day inflates sigma and masks its neighbors); the
     * median/MAD detector is immune up to 50% contamination — and here it
     * is FLOAT-FREE: daily revenue in exact integer cents, both medians
     * by the exact lower-median rank convention (rank (n+1) DIV 2 under
     * (value, day) order — the agg_exact_median_by_rank idiom), and the
     * flag |x − med| > 3·MAD a pure integer comparison. No window ever
     * exceeds the day-count; the only corpus-sized step is the daily
     * rollup.
     */
    QueryDef(
      "ts_anomaly_robust_mad",
      (s, dir) => {
        val daily = Tables.orders(s, dir)
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg((sum(col("o_totalprice").cast(D)) * 100).cast("long").as("rc"))
          .localCheckpoint(true) // consumed by both median passes + output
        def lowerMedian(df: org.apache.spark.sql.DataFrame,
            vcol: String, alias: String) = {
          val w = Window.orderBy(col(vcol).asc, col("d").asc)
          df.withColumn("rn", row_number().over(w))
            .withColumn("n", count(lit(1)).over(Window.partitionBy()))
            .filter(col("rn") === expr("(n + 1) DIV 2"))
            .select(col(vcol).as(alias))
        }
        val med = lowerMedian(daily, "rc", "med")
        val dev = daily.crossJoin(broadcast(med))
          .withColumn("dev", abs(col("rc") - col("med")))
        val mad = lowerMedian(dev, "dev", "mad")
        dev.crossJoin(broadcast(mad))
          .filter(col("dev") > lit(3) * col("mad"))
          .select(col("d"), col("rc"), col("med"), col("dev"), col("mad"))
          .orderBy("d")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS d,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS rc
          FROM orders GROUP BY 1),
        med AS (
          SELECT rc AS med
          FROM (SELECT rc, row_number() OVER (ORDER BY rc ASC, d ASC) AS rn,
                       COUNT(*) OVER () AS n
                FROM daily) t
          WHERE rn = (n + 1) // 2),
        dev AS (
          SELECT d, rc, med, ABS(rc - med) AS dev
          FROM daily CROSS JOIN med),
        mad AS (
          SELECT dev AS mad
          FROM (SELECT dev, row_number() OVER (ORDER BY dev ASC, d ASC) AS rn,
                       COUNT(*) OVER () AS n
                FROM dev) t
          WHERE rn = (n + 1) // 2)
        SELECT d, rc, med, dev, mad
        FROM dev CROSS JOIN mad
        WHERE dev > 3 * mad
        ORDER BY d
      """.stripMargin.trim)),

    // ---- weekday seasonality index ---------------------------------------
    /* Multiplicative day-of-week seasonal profile of daily revenue, the
     * decomposition a forecast or anomaly pipeline divides out before
     * trend analysis. Integer-exact end to end: revenue in cents, the
     * weekday index is days-since-1995-01-01 MOD 7 (a pure integer both
     * engines share — dayofweek() builtins disagree on Sunday=0 vs 1),
     * per-weekday and overall means by integer DIV, and the seasonal
     * factor mean_wd·10⁶ DIV mean_all widened to DECIMAL(38,0)/HUGEINT.
     * Shape: one daily rollup (corpus-sized, map-side combinable), then
     * everything runs over ≤ 7+1 rows.
     */
    QueryDef(
      "ts_seasonal_weekday",
      (s, dir) => {
        val daily = Tables.orders(s, dir)
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg((sum(col("o_totalprice").cast(D)) * 100).cast("long").as("rc"))
          .withColumn("wd", expr("datediff(d, DATE '1995-01-01') % 7"))
        val overall = daily.agg(
          expr("SUM(rc) DIV COUNT(1)").as("mean_all_cents"))
        daily.groupBy(col("wd").cast("long").as("weekday"))
          .agg(count(lit(1)).as("n_days"),
            expr("SUM(rc) DIV COUNT(1)").as("mean_cents"))
          .crossJoin(broadcast(overall))
          .withColumn("seasonal_ppm", expr(
            """CAST((CAST(mean_cents AS DECIMAL(38,0)) * 1000000)
                    DIV mean_all_cents AS BIGINT)"""))
          .select("weekday", "n_days", "mean_cents", "seasonal_ppm")
          .orderBy("weekday")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS d,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS rc
          FROM orders GROUP BY 1),
        keyed AS (
          SELECT date_diff('day', DATE '1995-01-01', d) % 7 AS wd, rc FROM daily),
        overall AS (SELECT SUM(rc) // COUNT(*) AS mean_all_cents FROM keyed)
        SELECT CAST(wd AS BIGINT) AS weekday, COUNT(*) AS n_days,
               CAST(SUM(rc) // COUNT(*) AS BIGINT) AS mean_cents,
               CAST((CAST(SUM(rc) // COUNT(*) AS HUGEINT) * 1000000)
                    // mean_all_cents AS BIGINT) AS seasonal_ppm
        FROM keyed CROSS JOIN overall
        GROUP BY wd, mean_all_cents
        ORDER BY weekday
      """.stripMargin.trim)),

    // ---- exact OLS trend over the daily series ---------------------------
    /* Least-squares revenue trend, closed form in exact wide integers:
     * slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) over (day index, daily cents),
     * emitted as slope_milli_cents_per_day = numerator·1000 DIV
     * denominator plus the exact intercept at x=0 — the drift estimate a
     * capacity forecast consumes next to the seasonal profile. Every sum
     * is an integer aggregate of the day-grain table; the only
     * corpus-sized step is the daily rollup. Products are widened to
     * DECIMAL(38,0)/HUGEINT — n·Σxy overflows int64 on long horizons.
     */
    QueryDef(
      "ts_trend_ols",
      (s, dir) => {
        val daily = Tables.orders(s, dir)
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg((sum(col("o_totalprice").cast(D)) * 100).cast("long").as("rc"))
          .withColumn("x", datediff(col("d"), lit("1995-01-01")).cast("long"))
        daily.agg(
          count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"),
          sum(col("rc")).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * rc")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
          .select(col("n_days"),
            expr("""CAST((CAST(n_days AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000
                    DIV (CAST(n_days AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                    AS BIGINT)""").as("slope_milli_cents_per_day"),
            expr("""CAST((CAST(sy AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy)
                    DIV (CAST(n_days AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                    AS BIGINT)""").as("intercept_cents"))
      },
      Some("""
        WITH daily AS (
          SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS rc
          FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        sums AS (
          SELECT COUNT(*) AS n_days,
                 CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(rc) AS HUGEINT) AS sy,
                 SUM(CAST(x AS HUGEINT) * rc) AS sxy,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx
          FROM daily)
        SELECT n_days,
               CAST((n_days * sxy - sx * sy) * 1000
                    // (n_days * sxx - sx * sx) AS BIGINT) AS slope_milli_cents_per_day,
               CAST((sy * sxx - sx * sxy)
                    // (n_days * sxx - sx * sx) AS BIGINT) AS intercept_cents
        FROM sums
      """.stripMargin.trim)),

    // ---- additive trend/seasonal/residual decomposition ------------------
    /* STL-style additive decomposition of daily revenue: trend = 7-point
     * centered moving average (full windows only — the 3-day edges drop),
     * seasonal = per-weekday mean of the detrended series, residual =
     * observation − trend − seasonal. Exactness: the detrended value is
     * kept as the INTEGER 7·x − Σwindow (cents, no division), so the
     * per-weekday aggregation sums integers in any order; the only double
     * ops are the final /7.0 and /(7.0·n) divisions, written once as
     * shared text. The weekday index is ((days-since-epoch % 7) + 7) % 7
     * — dayofweek() builtins disagree on Sunday numbering, and a plain %
     * goes negative before the anchor date.
     * Shape: one corpus-sized daily rollup; the MA window and the 7-row
     * seasonal broadcast run over the BOUNDED day grain (constant at any
     * corpus size — whitelisted alongside the other day-frame windows).
     */
    QueryDef(
      "ts_stl_weekday_decompose",
      (s, dir) => {
        val daily = Tables.orders(s, dir)
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg((sum(col("o_totalprice").cast(D)) * 100).cast("long").as("rc"))
          .withColumn("di", datediff(col("d"), lit("1992-01-01")).cast("long"))
          .withColumn("wd", expr("((datediff(d, DATE '1992-01-01') % 7) + 7) % 7"))
        val w = Window.orderBy(col("di")).rowsBetween(-3, 3)
        val t = daily
          .withColumn("t7", sum(col("rc")).over(w))
          .withColumn("n7", count(lit(1)).over(w))
          .filter(col("n7") === 7)
        val seas = t.groupBy("wd")
          .agg(sum(col("rc") * 7 - col("t7")).as("ssum"),
            count(lit(1)).as("scnt"))
        t.join(broadcast(seas), "wd")
          .selectExpr("di", "d", "rc",
            "CAST(t7 AS DOUBLE) / 7.0 AS trend",
            "CAST(ssum AS DOUBLE) / (7.0 * scnt) AS seasonal",
            """CAST(rc AS DOUBLE) - CAST(t7 AS DOUBLE) / 7.0
               - CAST(ssum AS DOUBLE) / (7.0 * scnt) AS residual""")
          .orderBy("di")
      },
      Some("""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS d,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS rc
          FROM orders GROUP BY 1),
        idx AS (
          SELECT d, rc,
                 CAST(date_diff('day', DATE '1992-01-01', d) AS BIGINT) AS di,
                 ((date_diff('day', DATE '1992-01-01', d) % 7) + 7) % 7 AS wd
          FROM daily),
        ma AS (
          SELECT *, SUM(rc) OVER w AS t7, COUNT(*) OVER w AS n7
          FROM idx
          WINDOW w AS (ORDER BY di ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        tt AS (SELECT * FROM ma WHERE n7 = 7),
        seas AS (
          SELECT wd, SUM(rc * 7 - t7) AS ssum, COUNT(*) AS scnt
          FROM tt GROUP BY wd)
        SELECT di, d, rc,
               CAST(t7 AS DOUBLE) / 7.0 AS trend,
               CAST(ssum AS DOUBLE) / (7.0 * scnt) AS seasonal,
               CAST(rc AS DOUBLE) - CAST(t7 AS DOUBLE) / 7.0
                 - CAST(ssum AS DOUBLE) / (7.0 * scnt) AS residual
        FROM tt JOIN seas USING (wd)
        ORDER BY di
      """.stripMargin.trim)),

    // ---- deterministic Poisson bootstrap CI --------------------------
    // THE distributed bootstrap (Chamandy et al.): resample b gives row
    // i the weight w ~ Poisson(1), approximating sampling-with-
    // replacement without materializing resamples — one map-side
    // explode(×B) + B keyed sums. The weights are DETERMINISTIC: a
    // 6-hex-digit md5 uniform over [0, 16⁶) cut at the fixed integer
    // Poisson(1) CDF thresholds (tail mass ≥7 ≈ 8·10⁻⁵ folded into 7),
    // so both engines draw the identical 32 resamples. Each resample
    // mean is exact-integer sums + ONE IEEE division; the CI bounds are
    // order statistics (ranks 2 and 31 of B=32) of bit-identical
    // doubles — a fully reproducible uncertainty estimate, which a
    // pipeline needs when it gates on "did the metric move
    // significantly".
    QueryDef(
      "stats_bootstrap_ci_poisson",
      (s, dir) => {
        val cents = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            (col("o_totalprice").cast(DecimalType(12, 2)) * 100).cast("long").as("vc"))
        val expanded = cents
          .select(col("o_orderkey"), col("vc"),
            explode(sequence(lit(0), lit(BootB - 1))).as("b"))
          .withColumn("u", expr(hex6Spark(
            "md5(CAST(CONCAT(CAST(o_orderkey AS STRING), ':', CAST(b AS STRING)) AS BINARY))")))
          .withColumn("w", expr(poissonW("u")))
        val means = expanded.groupBy("b")
          .agg(sum(col("w") * col("vc")).as("swx"), sum(col("w")).as("sw"))
          .select((col("swx").cast("double") / col("sw")).as("m"))
        val ci = means.agg(sort_array(collect_list(col("m"))).as("ms"))
          .select(element_at(col("ms"), 2).as("boot_p05"),
            element_at(col("ms"), BootB - 1).as("boot_p95"))
        cents.agg(count(lit(1)).as("n_rows"),
            (sum(col("vc")).cast("double") / count(lit(1))).as("est_mean_cents"))
          .crossJoin(broadcast(ci))
          .select(col("n_rows"), col("est_mean_cents"),
            col("boot_p05"), col("boot_p95"),
            lit(BootB.toLong).as("n_resamples"))
      },
      Some(s"""
        WITH cents AS (
          SELECT o_orderkey,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM orders),
        ex AS (
          SELECT vc,
                 CAST(b.range AS BIGINT) AS b,
                 ${hex6Duck(s"md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(b.range AS VARCHAR))")} AS u
          FROM cents CROSS JOIN range(0, $BootB) b),
        means AS (
          SELECT b, CAST(SUM(${poissonW("u")} * vc) AS DOUBLE)
                      / SUM(${poissonW("u")}) AS m
          FROM ex GROUP BY b),
        ci AS (SELECT list_sort(list(m)) AS ms FROM means),
        est AS (
          SELECT COUNT(*) AS n_rows,
                 CAST(SUM(vc) AS DOUBLE) / COUNT(*) AS est_mean_cents
          FROM cents)
        SELECT n_rows, est_mean_cents,
               ms[2] AS boot_p05, ms[${BootB - 1}] AS boot_p95,
               CAST($BootB AS BIGINT) AS n_resamples
        FROM est CROSS JOIN ci
      """.stripMargin.trim))
  )

  /** 6-hex-digit md5 prefix as an integer uniform over [0, 16⁶) — the
    * positional-digit construction the KMV sketches use, emitted for
    * both dialects from one definition. */
  private def hex6Spark(h: String): String =
    (1 to 6).map(i =>
      s"(position(substring($h, $i, 1) IN '0123456789abcdef') - 1) * ${1L << (4 * (6 - i))}L")
      .mkString(" + ")
  private def hex6Duck(h: String): String =
    (1 to 6).map(i =>
      s"(strpos('0123456789abcdef', substr($h, $i, 1)) - 1) * ${1L << (4 * (6 - i))}")
      .mkString(" + ")

  /** Poisson(1) draw from the uniform `u`: fixed integer CDF thresholds
    * over 16⁶ (⌊16⁶·P(X≤k)⌋ for k=0..6; the ≥7 tail keeps mass
    * ~8·10⁻⁵), identical text in both dialects. */
  private def poissonW(u: String): String =
    s"""CASE WHEN $u < 6171992 THEN 0 WHEN $u < 12343985 THEN 1
       | WHEN $u < 15429982 THEN 2 WHEN $u < 16458647 THEN 3
       | WHEN $u < 16715813 THEN 4 WHEN $u < 16767247 THEN 5
       | WHEN $u < 16775819 THEN 6 ELSE 7 END""".stripMargin.replace("\n", "")
}
