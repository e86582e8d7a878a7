package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import BroadcastGuard.{Guarded, SlimRowCap}

/** Iterative graph analytics as unrolled keyed joins — the execution
  * pattern (Pregel-style superstep = join + groupBy) that label
  * propagation (`dedup_cluster_components`) uses for convergence-bounded
  * work, here exercised as fixed-iteration PageRank.
  *
  * Exactness across engines: ranks live in SCALED INT64 (1.0 ≡ 10⁶),
  * per-edge contributions are integer division `rank DIV deg`, and the
  * damping step is `150000 + (85·Σcontrib) DIV 100` — every operation is
  * exact 64-bit integer arithmetic, so three iterations produce
  * bit-identical ranks in Spark and DuckDB (no float accumulation-order
  * hazard, the same discipline as the anomaly/PPS operators).
  *
  * Scale shape: the edge list is materialized ONCE (localCheckpoint) and
  * every superstep is (edges ⋈ ranks on src) → groupBy(dst) — a keyed
  * shuffle whose left side can be bucketed/pre-partitioned by src on a
  * real cluster so only the (node-sized, much smaller) rank table moves
  * per iteration. Rank mass is conserved up to truncation, so no
  * per-iteration normalization pass is needed.
  */
object GraphIterative {

  private val graphCache = new graft.SessionCache[DataFrame]

  /** THE single edge-list definition (shared-single-definition
    * discipline): distinct supplier↔part pairs mapped to disjoint even/
    * odd node ids, symmetrized, hash-partitioned by src and
    * materialized. Both consumers — the pinned [[graphSurface]] that
    * BFS probes and [[pagerank]]'s inline timed full build — call this
    * one builder, so their graphs can never silently desync.
    */
  private def buildEdges(s: SparkSession, dir: String): DataFrame = {
    val e0 = Tables.lineitem(s, dir)
      .select((col("l_suppkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
    // ONE distinct over the symmetrized stream instead of
    // distinct → union → repartition(src): flipping is a bijection with
    // no self-loops (even↔odd ids), so distinct(e0 ∪ flip(e0)) is the
    // same edge set — one exchange instead of two (r18). The dropped
    // repartition(src) bought nothing anyway: localCheckpoint drops
    // outputPartitioning at the physical level (measured r18 — a
    // groupBy on the repartition key still plans an Exchange after the
    // checkpoint), and distinct-last also keeps the checkpoint at the
    // configured partition count rather than the union's doubled one.
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
  }

  /** The DuckDB twin of [[buildEdges]], one CTE string spliced into both
    * oracle queries (defines `e0` and the symmetric closure `e`). */
  private val edgesDuck: String =
    """e0 AS (
      |        SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem),
      |      e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0)"""
      .stripMargin

  /** The symmetric edge list (hash-partitioned by src, checkpointed),
    * pinned per (session, corpus) — the dedup-family surface pattern:
    * [[pagerank]] stays the honest FULL-BUILD carrier (it reconstructs
    * the graph inside its own timed window via the same [[buildEdges]]),
    * while traversals like [[bfsReachability]] probe the pinned surface,
    * the way a second graph query on a real cluster reads the
    * already-bucketed edge table instead of re-deriving it from
    * lineitem. (Degrees are NOT part of the surface: only pagerank needs
    * them and it builds its own — pinning an unread table would burn
    * executor memory for the whole session.)
    */
  private[operators] def graphSurface(s: SparkSession, dir: String): DataFrame =
    graphCache.getOrElseUpdate(s, dir) {
      graft.PinnedStorage.pin(s)(buildEdges(s, dir))
    }

  /** PageRank (damping 0.85, 3 supersteps) over the undirected bipartite
    * supplier↔part graph from distinct lineitem pairs. Suppliers map to
    * even node ids (2k), parts to odd (2k+1) — disjoint integer spaces
    * without string keys. Every node has degree ≥ 1 by construction
    * (nodes come from edges), so there is no dangling-mass term.
    */
  val pagerank: QueryDef = QueryDef(
    "graph_pagerank_bipartite",
    (s, dir) => {
      // symmetric closure, materialized once. Built inline (not via the
      // pinned surface): pagerank is the honest full-build carrier, but
      // through the SAME buildEdges definition. Each superstep BUILDS
      // the node-sized contrib table and broadcasts it into the edge
      // scan (r18: the un-hinted plan broadcast the EDGE side — the
      // 1.1M-row list shipped as a fresh HashedRelation every
      // iteration while the ~13k-row rank table streamed; the explicit
      // hint flips it, so per superstep only the rank table moves and
      // the big operand is scanned in place — measured 1.9 → 1.5 s).
      // Deployment note: contrib is O(nodes); the broadcast is gated on
      // the node count ([[BroadcastGuard]], r18 verdict item 2) — past
      // the cap the hint drops and the superstep becomes a shuffled join
      // against a bucketed-by-src edge table — the standard Pregel
      // layout — with identical algebra. ONE guard of the degree table
      // decides all three supersteps: every superstep's contrib has
      // exactly |deg| rows (iteration output re-keys on dst, and in the
      // symmetric graph every node is a dst).
      val edges = buildEdges(s, dir)
      val Guarded(deg, _, contribBc) = BroadcastGuard(
        edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .select(col("src").as("node"), col("deg")),
        SlimRowCap)
      var ranks = deg.select(col("node"), lit(1000000L).as("rank"))
      for (_ <- 1 to 3) {
        val contrib = ranks.join(deg, "node")
          .select(col("node"), expr("rank DIV deg").as("c"))
        ranks = edges.join(contribBc(contrib), edges("src") === contrib("node"))
          .groupBy(col("dst").as("node"))
          .agg(expr("CAST(150000 + (85 * SUM(c)) DIV 100 AS BIGINT)").as("rank"))
      }
      ranks
        .select(
          when(col("node") % 2 === 0, lit("supplier")).otherwise(lit("part")).as("node_type"),
          expr("node DIV 2").as("key"),
          col("node").as("node_id"),
          col("rank"))
        .orderBy(desc("rank"), asc("node_id"))
        .limit(20)
    },
    Some(s"""
      WITH $edgesDuck,
      deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM deg),
      it1 AS (
        SELECT e.dst AS node,
               CAST(150000 + (85 * SUM(r.rank // d.deg)) // 100 AS BIGINT) AS rank
        FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.node
        GROUP BY e.dst),
      it2 AS (
        SELECT e.dst AS node,
               CAST(150000 + (85 * SUM(r.rank // d.deg)) // 100 AS BIGINT) AS rank
        FROM e JOIN it1 r ON e.src = r.node JOIN deg d ON e.src = d.node
        GROUP BY e.dst),
      it3 AS (
        SELECT e.dst AS node,
               CAST(150000 + (85 * SUM(r.rank // d.deg)) // 100 AS BIGINT) AS rank
        FROM e JOIN it2 r ON e.src = r.node JOIN deg d ON e.src = d.node
        GROUP BY e.dst)
      SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
             node // 2 AS key, node AS node_id, rank
      FROM it3
      ORDER BY rank DESC, node_id
      LIMIT 20
    """.stripMargin.trim))

  /** Frontier BFS with exact shortest-hop labels: from the nation-1
    * suppliers as seeds, expand ≤ 3 hops through the same bipartite
    * graph; each level is (edges ⋈ frontier) → distinct → anti-join
    * against everything already visited — the level-synchronous BFS a
    * cluster runs (frontier and visited-set are node-sized; the edge
    * list is the only big operand and it is touched once per level,
    * pre-partitioned by src exactly as in [[pagerank]]). Output is the
    * per-hop roster size split by node type — the "blast radius" audit
    * of a dependency/contamination traversal.
    */
  val bfsReachability: QueryDef = QueryDef(
    "graph_bfs_reachability",
    (s, dir) => {
      val edges = graphSurface(s, dir)
      val seeds = Tables.supplier(s, dir)
        .filter(col("s_nationkey") === 1)
        .select((col("s_suppkey") * 2).as("node"))
        // seeds outside the graph (suppliers with no lineitem) stay hop-0
        // members of the visited set but expand nothing — keep them
      // broadcast the node-sized sides (guide §3.1, the pagerank r18
      // lesson): frontier and visited are O(reached nodes); un-hinted,
      // the RDD-backed edge surface carries no stats and the planner
      // shuffled the 1.1M-row edge list against them each hop
      // (measured 1.6-1.8 → 1.0-1.2 s at sf0.1). Every frontier (the
      // seeds included) goes through [[BroadcastGuard]], and the visited
      // count is the running sum of the frontier counts, so no frame is
      // ever counted twice. Past the cap the hints drop and the hop
      // becomes a keyed join against the bucketed-by-src edge table —
      // identical algebra.
      var frontier = BroadcastGuard(seeds, SlimRowCap)
      var visited = frontier.df.withColumn("hop", lit(0))
      var visitedCount = frontier.rows
      for (h <- 1 to 3) {
        frontier = BroadcastGuard(
          edges.join(frontier.hint(frontier.df), edges("src") === frontier.df("node"))
            .select(col("dst").as("node")).distinct()
            .join(BroadcastGuard.hint(visitedCount, SlimRowCap)(visited.select("node")),
              Seq("node"), "left_anti"),
          SlimRowCap)
        visitedCount += frontier.rows
        visited = visited.unionByName(frontier.df.withColumn("hop", lit(h)))
      }
      visited
        .groupBy("hop")
        .agg(
          count(when(col("node") % 2 === 0, 1)).as("n_suppliers"),
          count(when(col("node") % 2 === 1, 1)).as("n_parts"))
        .select(col("hop").cast("long").as("hop"), col("n_suppliers"), col("n_parts"))
        .orderBy("hop")
    },
    Some(s"""
      WITH $edgesDuck,
      f0 AS (SELECT DISTINCT s_suppkey * 2 AS node FROM supplier WHERE s_nationkey = 1),
      f1 AS (
        SELECT DISTINCT e.dst AS node FROM e JOIN f0 ON e.src = f0.node
        WHERE e.dst NOT IN (SELECT node FROM f0)),
      f2 AS (
        SELECT DISTINCT e.dst AS node FROM e JOIN f1 ON e.src = f1.node
        WHERE e.dst NOT IN (SELECT node FROM f0)
          AND e.dst NOT IN (SELECT node FROM f1)),
      f3 AS (
        SELECT DISTINCT e.dst AS node FROM e JOIN f2 ON e.src = f2.node
        WHERE e.dst NOT IN (SELECT node FROM f0)
          AND e.dst NOT IN (SELECT node FROM f1)
          AND e.dst NOT IN (SELECT node FROM f2)),
      v AS (
        SELECT node, 0 AS hop FROM f0
        UNION ALL SELECT node, 1 FROM f1
        UNION ALL SELECT node, 2 FROM f2
        UNION ALL SELECT node, 3 FROM f3)
      SELECT CAST(hop AS BIGINT) AS hop,
             COUNT(*) FILTER (WHERE node % 2 = 0) AS n_suppliers,
             COUNT(*) FILTER (WHERE node % 2 = 1) AS n_parts
      FROM v
      GROUP BY hop
      ORDER BY hop
    """.stripMargin.trim))

  /** Triangle census of the co-ordered-parts graph (parts joined by
    * appearing in the same order): edge/wedge/triangle counts and the
    * global closure ratio 3·Δ/wedges in ppm, one exact integer row.
    *
    * The base graph matters as much as the algorithm: co-membership on
    * a SMALL grouping key (supplier↔part) is near-complete — on that
    * graph any triangle join is Θ(n³) by construction (measured 44 s at
    * sf0.1 before this was caught). Co-occurrence within ORDERS keeps
    * density bounded by order width (~4 items), so edges grow linearly
    * with the fact table and the census stays joinable at any SF.
    *
    * The census uses DEGREE-ORDERED orientation — each undirected edge
    * is directed from its (degree, id)-smaller endpoint — the standard
    * skew guard (Suri & Vassilvitskii's MR triangle counting): a hub of
    * degree d contributes oriented out-edges only toward higher-degree
    * nodes, so out-degrees are ≤ O(√m) and the per-edge adjacency
    * intersection work is bounded by Σ out-deg², never by the hub's
    * full d². Every step is an equi-join keyed by a vertex id.
    */
  /** THE co-order parts edge list (a < b, distinct, materialized):
    * shared by [[triangleCount]] (which builds it inline — the family's
    * honest full-build carrier) and the pinned [[coOrderSurface]] that
    * probes like [[linkPrediction]] read. */
  /** Ordered co-member pairs (a < b) exploded CODEGEN-SIDE from a
    * sorted per-group member set — the shared idiom that replaces the
    * `distinct → self-equi-join` pair generator: one groupBy of the
    * fact table builds the per-group set (map-side partial
    * collect_set), the pairs are generated by array HOFs with no join
    * and no second shuffle of the fact rows (r18; the join form paid a
    * distinct exchange on (group, member) PLUS a re-shuffle of both
    * sides onto the group key). Work is Σ_groups k² exactly like the
    * self-join, bounded by group width. */
  private[operators] def orderedPairsFromSet(setCol: String) = expr(
    s"""flatten(transform($setCol, (x, i) ->
        transform(slice($setCol, i + 2, size($setCol)), y -> struct(x AS a, y AS b))))""")

  private[operators] def buildCoOrderEdges(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(orderedPairsFromSet("ps")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b")).distinct()
      .localCheckpoint(true)

  /** DuckDB twin of [[buildCoOrderEdges]]: CTEs `sp` + `und`. */
  private val coOrderDuck: String =
    """sp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |      und AS (
      |        SELECT DISTINCT x.pk AS a, y.pk AS b
      |        FROM sp x JOIN sp y ON x.ok = y.ok AND x.pk < y.pk)""".stripMargin

  private val coOrderCache = new graft.SessionCache[DataFrame]

  private[operators] def coOrderSurface(s: SparkSession, dir: String): DataFrame =
    coOrderCache.getOrElseUpdate(s, dir) {
      graft.PinnedStorage.pin(s)(buildCoOrderEdges(s, dir))
    }

  val triangleCount: QueryDef = QueryDef(
    "graph_triangle_count",
    (s, dir) => {
      // honest full build through the SAME shared definition. Cost
      // attribution (r11 Profile `tri`, sf0.1 warm): the ~5.5 s bench
      // entry is ~2.7 s SURFACE BUILD (edge list 2.0 + degrees 0.4 +
      // orientation 0.4) vs ~2.5 s census (bloom + SHJ closure over
      // 49M wedges) — the build half is exactly what the pinned
      // coOrderSurface consumers (k-core, link prediction, modularity)
      // amortize away; this query carries it once per session by design.
      val und = buildCoOrderEdges(s, dir)
      val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .localCheckpoint(true)
      // orient each edge from the (degree, id)-smaller endpoint; the
      // guard's count of the oriented edges (= the adjacency array mass)
      // decides the census broadcasts below
      val Guarded(ori, _, adjBc) = BroadcastGuard(und
        .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
        .select(
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("u"),
          when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
            col("b")).otherwise(col("a")).as("w")),
        SlimRowCap)
      // Closure check = the EDGE ITERATOR over the oriented DAG: each
      // oriented edge (u,w) contributes |N⁺(u) ∩ N⁺(w)| — every triangle
      // a→b→c (+a→c) is counted exactly once, at its (a,b) edge with
      // common out-neighbor c, identically to the wedge-close count the
      // oracle runs. r18 (guide §2.4 — remove shuffles outright): the
      // previous shape GENERATED the 49M-row wedge stream (ori ⋈ ori on
      // w=u), bloom-pruned it map-side, then semi-joined the survivors
      // back against the edge set; the adjacency-intersection form never
      // materializes a wedge — one groupBy builds the out-adjacency
      // arrays (Σ|array| = |ori|, per-node arrays ≤ O(√m) by the degree
      // orientation) and the intersection runs codegen-side inside the
      // edge scan. Measured 4.6 → 2.8 s full-query at sf0.1 (the census
      // half ~2.4 → ~0.7 s; the rest is the honest surface build).
      // The adjacency side is broadcast behind [[BroadcastGuard]]: past
      // the cap the hints drop and both joins stay keyed equi-joins
      // (shuffle by u / by w) — the standard bucketed-adjacency layout
      // at 100 TB, identical algebra.
      val adj = ori.groupBy(col("u")).agg(collect_list(col("w")).as("ns"))
      val tri = ori
        .join(adjBc(adj.select(col("u"), col("ns").as("nu"))), Seq("u"))
        .join(adjBc(adj.select(col("u").as("w"), col("ns").as("nw"))), Seq("w"))
        .agg(coalesce(sum(size(array_intersect(col("nu"), col("nw"))).cast("long")),
          lit(0L)).as("n_triangles"))
      val scalars = deg.agg(
        count(lit(1)).as("n_nodes"),
        expr("SUM(d) DIV 2").as("n_edges"),
        expr("SUM(d * (d - 1) DIV 2)").as("n_wedges"))
      scalars.crossJoin(broadcast(tri))
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
          expr("""CAST((CAST(3 AS DECIMAL(38,0)) * n_triangles * 1000000)
                  DIV n_wedges AS BIGINT)""").as("closure_ppm"))
    },
    Some(s"""
      WITH $coOrderDuck,
      deg AS (
        SELECT v, COUNT(*) AS d
        FROM (SELECT a AS v FROM und UNION ALL SELECT b FROM und) t
        GROUP BY 1),
      ori AS (
        SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN a ELSE b END AS u,
               CASE WHEN da.d < db.d OR (da.d = db.d AND a < b) THEN b ELSE a END AS w
        FROM und JOIN deg da ON und.a = da.v JOIN deg db ON und.b = db.v),
      tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM (SELECT e1.u AS u, e2.w AS w
              FROM ori e1 JOIN ori e2 ON e1.w = e2.u) wedge
        WHERE EXISTS (SELECT 1 FROM ori o WHERE o.u = wedge.u AND o.w = wedge.w)),
      scal AS (
        SELECT COUNT(*) AS n_nodes,
               CAST(SUM(d) // 2 AS BIGINT) AS n_edges,
               CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        FROM deg)
      SELECT n_nodes, n_edges, n_wedges, CAST(n_triangles AS BIGINT) AS n_triangles,
             CAST((CAST(3 AS HUGEINT) * n_triangles * 1000000)
                  // n_wedges AS BIGINT) AS closure_ppm
      FROM scal CROSS JOIN tri
    """.stripMargin.trim))

  /** 3-core peeling census over the pinned bipartite supplier↔part
    * graph: each round drops every node with CURRENT degree < 3 and
    * all its edges, and reports the surviving node count by type plus
    * remaining edges — the degeneracy-ordering prefix a community or
    * fraud pipeline uses to strip the periphery before expensive
    * per-node work. Three unrolled supersteps (the pagerank/BFS
    * discipline: fixed iterations, every step a keyed degree agg + a
    * semi-join of the edge list against the survivor set, nothing
    * corpus-sized beyond the edge scans). Probes [[graphSurface]] like
    * BFS — pagerank remains the family's honest full-build carrier.
    */
  val kcorePeel: QueryDef = QueryDef(
    "graph_kcore_peel",
    (s, dir) => {
      val k = 3
      var edges = graphSurface(s, dir)
      val rounds = (1 to 3).map { round =>
        val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
        val keep = deg.filter(col("d") >= k).select(col("src").as("v"))
          .localCheckpoint(true)
        edges = edges
          .join(keep.select(col("v").as("src")), Seq("src"), "left_semi")
          .join(keep.select(col("v").as("dst")), Seq("dst"), "left_semi")
          .select("src", "dst")
          .localCheckpoint(true)
        val stats = keep.agg(
          count(when(col("v") % 2 === 0, 1)).as("n_suppliers"),
          count(when(col("v") % 2 === 1, 1)).as("n_parts"))
          .crossJoin(broadcast(edges.agg(
            expr("COUNT(1) DIV 2").as("n_edges_remaining"))))
          .select(lit(round.toLong).as("round"), col("n_suppliers"),
            col("n_parts"), col("n_edges_remaining"))
        stats
      }
      rounds.reduce(_.unionByName(_)).orderBy("round")
    },
    Some(s"""
      WITH $edgesDuck,
      d1 AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
      k1 AS (SELECT src AS v FROM d1 WHERE d >= 3),
      e1 AS (SELECT e.src, e.dst FROM e
             WHERE e.src IN (SELECT v FROM k1) AND e.dst IN (SELECT v FROM k1)),
      d2 AS (SELECT src, COUNT(*) AS d FROM e1 GROUP BY 1),
      k2 AS (SELECT src AS v FROM d2 WHERE d >= 3),
      e2 AS (SELECT e1.src, e1.dst FROM e1
             WHERE e1.src IN (SELECT v FROM k2) AND e1.dst IN (SELECT v FROM k2)),
      d3 AS (SELECT src, COUNT(*) AS d FROM e2 GROUP BY 1),
      k3 AS (SELECT src AS v FROM d3 WHERE d >= 3),
      e3 AS (SELECT e2.src, e2.dst FROM e2
             WHERE e2.src IN (SELECT v FROM k3) AND e2.dst IN (SELECT v FROM k3)),
      rounds AS (
        SELECT CAST(1 AS BIGINT) AS round,
               (SELECT COUNT(*) FROM k1 WHERE v % 2 = 0) AS n_suppliers,
               (SELECT COUNT(*) FROM k1 WHERE v % 2 = 1) AS n_parts,
               (SELECT COUNT(*) // 2 FROM e1) AS n_edges_remaining
        UNION ALL
        SELECT 2, (SELECT COUNT(*) FROM k2 WHERE v % 2 = 0),
               (SELECT COUNT(*) FROM k2 WHERE v % 2 = 1),
               (SELECT COUNT(*) // 2 FROM e2)
        UNION ALL
        SELECT 3, (SELECT COUNT(*) FROM k3 WHERE v % 2 = 0),
               (SELECT COUNT(*) FROM k3 WHERE v % 2 = 1),
               (SELECT COUNT(*) // 2 FROM e3))
      SELECT round, n_suppliers, n_parts, CAST(n_edges_remaining AS BIGINT) AS n_edges_remaining
      FROM rounds
      ORDER BY round
    """.stripMargin.trim))

  /** Link prediction for a seed set over the pinned co-order graph:
    * for each seed part (node id < 10 — the deterministic "recommend
    * for these entities" anchor), rank NON-neighbor parts two hops
    * away by common-neighbor count and neighborhood Jaccard (integer
    * ppm), top-3 per seed — the classic common-neighbors/Jaccard link
    * predictor a recommender or substitute-part analysis runs.
    *
    * Scale shape: the ONLY per-corpus operand is the pinned edge list;
    * every join is seeded — seed out-edges (Σ deg(seed) rows) expand
    * one hop through an equi-join, so work is O(Σ_seed Σ_{v∈N(s)}
    * deg(v)), never the global wedge count; the direct-neighbor
    * exclusion is a seed-scoped anti-join and top-3 is a per-seed
    * window over the seed's candidate set.
    */
  val linkPrediction: QueryDef = QueryDef(
    "graph_link_prediction",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val und = coOrderSurface(s, dir)
      // symmetric adjacency from the pinned (a < b) edge list
      val adj = und.select(col("a").as("u"), col("b").as("v"))
        .union(und.select(col("b").as("u"), col("a").as("v")))
      val deg = adj.groupBy("u").agg(count(lit(1)).as("d"))
      // every frame on the seed side is O(Σ_seed deg) or O(seed two-hop)
      // — broadcast it so the corpus-sized adjacency/degree tables
      // stream in place (guide §3.1; un-hinted, the stats-less
      // checkpoint surface planned FOUR SortMergeJoins here, each
      // exchanging+sorting the big side — measured 2.1-2.3 → 1.9-2.1 s
      // at sf0.1, and the exchanges of the adjacency/degree tables are
      // gone from the plan). Both seed-side frames are unbounded on
      // hub-heavy graphs, so both go through [[BroadcastGuard]] (r18
      // verdict item 2): each feeds two consumers anyway (seedAdj the
      // expansion and the anti-join, cn its count and the join chain)
      // and its count decides the hints; past the cap the joins stay
      // keyed.
      val Guarded(seedAdj, _, seedBc) = BroadcastGuard(adj.filter(col("u") < 10), SlimRowCap)
      val twoHop = seedBc(seedAdj.as("e1"))
        .join(adj.as("e2"), col("e1.v") === col("e2.u"))
        .select(col("e1.u").as("seed"), col("e2.v").as("cand"))
        .filter(col("seed") =!= col("cand"))
      val Guarded(cn, _, cnBc) = BroadcastGuard(twoHop
        .join(seedBc(seedAdj.select(col("u").as("seed"), col("v").as("cand"))),
          Seq("seed", "cand"), "left_anti")
        .groupBy("seed", "cand").agg(count(lit(1)).as("common_neighbors")),
        SlimRowCap)
      val w = Window.partitionBy("seed")
        .orderBy(desc("common_neighbors"), asc("cand"))
      cnBc(cnBc(cn)
        .join(deg.select(col("u").as("seed"), col("d").as("ds")), "seed"))
        .join(deg.select(col("u").as("cand"), col("d").as("dc")), "cand")
        .withColumn("jaccard_ppm", expr(
          """CAST((CAST(common_neighbors AS DECIMAL(38,0)) * 1000000)
                  DIV (ds + dc - common_neighbors) AS BIGINT)"""))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("seed"), col("rnk"), col("cand"),
          col("common_neighbors"), col("jaccard_ppm"))
        .orderBy("seed", "rnk")
    },
    Some(s"""
      WITH $coOrderDuck,
      adj AS (
        SELECT a AS u, b AS v FROM und UNION ALL SELECT b AS u, a AS v FROM und),
      deg AS (SELECT u, COUNT(*) AS d FROM adj GROUP BY 1),
      seed_adj AS (SELECT u, v FROM adj WHERE u < 10),
      two_hop AS (
        SELECT e1.u AS seed, e2.v AS cand
        FROM seed_adj e1 JOIN adj e2 ON e1.v = e2.u
        WHERE e1.u <> e2.v),
      cn AS (
        SELECT seed, cand, COUNT(*) AS common_neighbors
        FROM two_hop t
        WHERE NOT EXISTS (SELECT 1 FROM seed_adj s
                          WHERE s.u = t.seed AND s.v = t.cand)
        GROUP BY 1, 2),
      ranked AS (
        SELECT seed, cand, common_neighbors,
               CAST((CAST(common_neighbors AS HUGEINT) * 1000000)
                    // (ds.d + dc.d - common_neighbors) AS BIGINT) AS jaccard_ppm,
               CAST(row_number() OVER (PARTITION BY seed
                 ORDER BY common_neighbors DESC, cand ASC) AS BIGINT) AS rnk
        FROM cn JOIN deg ds ON cn.seed = ds.u JOIN deg dc ON cn.cand = dc.u)
      SELECT seed, rnk, cand, common_neighbors, jaccard_ppm
      FROM ranked
      WHERE rnk <= 3
      ORDER BY seed, rnk
    """.stripMargin.trim))

  /** Modularity of the brand partition over the co-order parts graph:
    * Q = Σ_c (e_c/m − (a_c/2m)²) for communities c = part brand,
    * computed as ONE exact integer division —
    * Q_ppm = 10⁶·(4m·Σe_c − Σa_c²) DIV (4m²) — so the score is
    * bit-identical cross-engine (per-term divisions would each truncate
    * and drift). Answers "do same-brand parts actually co-occur in
    * orders more than chance?" — the community-quality check run before
    * trusting any label-driven partitioning of a co-occurrence graph.
    * Probes the pinned surface; per-community terms are two keyed aggs
    * over edges and degrees joined with the (dimension-sized) brand map.
    */
  val modularity: QueryDef = QueryDef(
    "graph_brand_modularity",
    (s, dir) => {
      val und = coOrderSurface(s, dir)
      val brand = Tables.part(s, dir)
        .select(col("p_partkey").as("pk"), col("p_brand").as("c"))
      val edges = und
        .join(brand.select(col("pk").as("a"), col("c").as("ca")), "a")
        .join(brand.select(col("pk").as("b"), col("c").as("cb")), "b")
        .localCheckpoint(true) // feeds m, within-count, and degree sums
      val m = edges.agg(count(lit(1)).as("m"))
      val within = edges.filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("c")).agg(count(lit(1)).as("e_c"))
      val degSum = edges.select(col("ca").as("c"))
        .union(edges.select(col("cb").as("c")))
        .groupBy("c").agg(count(lit(1)).as("a_c"))
      val terms = degSum.join(within, Seq("c"), "left_outer")
        .select(col("c"), coalesce(col("e_c"), lit(0L)).as("e_c"), col("a_c"))
      terms.agg(
        count(lit(1)).as("n_communities"),
        sum(col("e_c")).as("within_edges"),
        sum(expr("CAST(a_c AS DECIMAL(38,0)) * a_c")).as("sum_a_sq"))
        .crossJoin(broadcast(m))
        .select(col("n_communities"), col("m").as("n_edges"), col("within_edges"),
          expr("""CAST((CAST(1000000 AS DECIMAL(38,0))
                        * (CAST(4 AS DECIMAL(38,0)) * m * within_edges - sum_a_sq))
                  DIV (CAST(4 AS DECIMAL(38,0)) * m * m) AS BIGINT)""").as("q_ppm"))
    },
    Some(s"""
      WITH $coOrderDuck,
      brand AS (SELECT p_partkey AS pk, p_brand AS c FROM part),
      edges AS (
        SELECT ba.c AS ca, bb.c AS cb
        FROM und JOIN brand ba ON und.a = ba.pk JOIN brand bb ON und.b = bb.pk),
      m AS (SELECT COUNT(*) AS m FROM edges),
      within AS (
        SELECT ca AS c, COUNT(*) AS e_c FROM edges WHERE ca = cb GROUP BY 1),
      degsum AS (
        SELECT c, COUNT(*) AS a_c
        FROM (SELECT ca AS c FROM edges UNION ALL SELECT cb FROM edges) t
        GROUP BY 1),
      terms AS (
        SELECT d.c, COALESCE(w.e_c, 0) AS e_c, d.a_c
        FROM degsum d LEFT JOIN within w ON d.c = w.c)
      SELECT COUNT(*) AS n_communities,
             CAST(m AS BIGINT) AS n_edges,
             CAST(SUM(e_c) AS BIGINT) AS within_edges,
             CAST((CAST(1000000 AS HUGEINT)
                   * (CAST(4 AS HUGEINT) * m * SUM(e_c) - SUM(CAST(a_c AS HUGEINT) * a_c)))
                  // (CAST(4 AS HUGEINT) * m * m) AS BIGINT) AS q_ppm
      FROM terms CROSS JOIN m
      GROUP BY m
    """.stripMargin.trim))

  /** PERSONALIZED PageRank: same damping/superstep/integer-fixed-point
    * scheme as [[pagerank]], but the teleport mass is concentrated on a
    * SEED SET (suppliers 1-5 — non-empty at every SF, incl. the
    * sf0.001 smoke slice where nation-1 has no suppliers) instead
    * of spread uniformly — the "similar items to THESE" primitive
    * behind seeded recommendation and contamination-neighborhood
    * scoring. r₀ = teleport; each superstep spreads 85% of mass along
    * out-edges and re-injects the full 15%·N teleport budget into the
    * seeds (per-seed share = 150000·N DIV |S|, all integer DIV).
    *
    * Scale shape: probes the PINNED surface (a consumer like BFS — the
    * honest full-build cost stays attributed to pagerank); per
    * superstep one edges⋈contrib join on the pre-partitioned src key +
    * one node-sized full-outer with the seed frame. Mass never leaves
    * the reached neighborhood, so early iterations touch only the
    * seeds' component.
    */
  val pprSeeded: QueryDef = QueryDef(
    "graph_ppr_seeded",
    (s, dir) => {
      val edges = graphSurface(s, dir)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg"))
        .localCheckpoint(false)
      val scalars = deg.agg(count(lit(1)).as("ntot")).crossJoin(
        broadcast(deg.join(Tables.supplier(s, dir)
            .filter(col("s_suppkey") <= 5)
            .select((col("s_suppkey") * 2).as("node")), "node")
          .agg(count(lit(1)).as("nseeds"))))
      val tele = deg.join(Tables.supplier(s, dir)
          .filter(col("s_suppkey") <= 5)
          .select((col("s_suppkey") * 2).as("node")), "node")
        .crossJoin(broadcast(scalars))
        .select(col("node"), expr("(150000 * ntot) DIV nseeds").as("t"))
        .localCheckpoint(false)
      var ranks = tele.select(col("node"), col("t").as("rank"))
      for (_ <- 1 to 3) {
        val contrib = ranks.join(deg, "node")
          .select(col("node"), expr("rank DIV deg").as("c"))
        val spread = edges.join(contrib, edges("src") === contrib("node"))
          .groupBy(col("dst").as("node"))
          .agg(expr("(85 * SUM(c)) DIV 100").as("sp"))
        ranks = tele.join(spread, Seq("node"), "full_outer")
          .select(col("node"),
            (coalesce(col("t"), lit(0L)) + coalesce(col("sp"), lit(0L))).as("rank"))
      }
      ranks
        .select(
          when(col("node") % 2 === 0, lit("supplier")).otherwise(lit("part")).as("node_type"),
          expr("node DIV 2").as("key"),
          col("node").as("node_id"),
          col("rank"))
        .orderBy(desc("rank"), asc("node_id"))
        .limit(20)
    },
    Some(s"""
      WITH $edgesDuck,
      deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
      n AS (SELECT COUNT(*) AS ntot FROM deg),
      seeds AS (
        SELECT d.node FROM deg d
        JOIN supplier s ON d.node = s.s_suppkey * 2
        WHERE s.s_suppkey <= 5),
      ns AS (SELECT COUNT(*) AS nseeds FROM seeds),
      tele AS (
        SELECT node, CAST((150000 * ntot) // nseeds AS BIGINT) AS t
        FROM seeds CROSS JOIN n CROSS JOIN ns),
      r0 AS (SELECT node, t AS rank FROM tele),
      sp1 AS (
        SELECT e.dst AS node, (85 * SUM(r.rank // d.deg)) // 100 AS sp
        FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.node
        GROUP BY 1),
      r1 AS (
        SELECT COALESCE(t.node, s.node) AS node,
               CAST(COALESCE(t.t, 0) + COALESCE(s.sp, 0) AS BIGINT) AS rank
        FROM tele t FULL JOIN sp1 s ON t.node = s.node),
      sp2 AS (
        SELECT e.dst AS node, (85 * SUM(r.rank // d.deg)) // 100 AS sp
        FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.node
        GROUP BY 1),
      r2 AS (
        SELECT COALESCE(t.node, s.node) AS node,
               CAST(COALESCE(t.t, 0) + COALESCE(s.sp, 0) AS BIGINT) AS rank
        FROM tele t FULL JOIN sp2 s ON t.node = s.node),
      sp3 AS (
        SELECT e.dst AS node, (85 * SUM(r.rank // d.deg)) // 100 AS sp
        FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.node
        GROUP BY 1),
      r3 AS (
        SELECT COALESCE(t.node, s.node) AS node,
               CAST(COALESCE(t.t, 0) + COALESCE(s.sp, 0) AS BIGINT) AS rank
        FROM tele t FULL JOIN sp3 s ON t.node = s.node)
      SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
             node // 2 AS key, node AS node_id, rank
      FROM r3
      ORDER BY rank DESC, node_id
      LIMIT 20
    """.stripMargin.trim))

  /** The same traversal as [[bfsReachability]], written as a RECURSIVE
    * CTE (Spark 4's `WITH RECURSIVE`, SPARK-24497) — the DECLARATIVE
    * form where the engine schedules the fixpoint instead of a driver
    * loop. Both engines run the IDENTICAL SQL text, and the hop counts
    * are a third/fourth independent derivation of the BFS distances
    * (Spark iterative, Spark recursive, DuckDB unrolled, DuckDB
    * recursive all agree on this graph).
    *
    * Scale honesty: Spark recursion supports UNION ALL only, so the
    * working set is PATHS, not nodes — per-path expansion grows with
    * Σ degᵈ and is NOT the 100 TB shape for deep traversals (that stays
    * [[bfsReachability]]'s keyed frontier with per-hop dedup, O(V)
    * state). The query is therefore bounded by construction: one seed
    * supplier, depth 2 (seed → its parts → their co-suppliers), ≤
    * |parts(seed)|·suppliers-per-part paths, well under the engine's
    * recursion row limit at any SF since per-supplier part counts are
    * catalog-bounded. MIN(hop) collapses paths to BFS distance.
    */
  val recursiveCteBfs: QueryDef = {
    // the recursive WALK is the shared text; the edge surface is a
    // placeholder because Spark re-executes every subquery inside the
    // recursion PER ITERATION — inlining the two-DISTINCT edge build
    // made each of the 3 iterations re-scan and re-shuffle the fact
    // (measured 4.3 s; pinned surface ~0.5 s). Spark reads the pinned
    // session graph surface (the same one bfsReachability probes);
    // DuckDB inlines the identical edge definition.
    val walk = """
      WITH RECURSIVE walk(node, hop) AS (
        SELECT DISTINCT l_suppkey * 2 AS node, 0 AS hop FROM %SEEDS% WHERE l_suppkey = 1
        UNION ALL
        SELECT e.dst, w.hop + 1 FROM walk w
        JOIN %EDGES% e ON e.src = w.node
        WHERE w.hop < 2)
      SELECT CAST(hop AS BIGINT) AS hop,
             COUNT(*) FILTER (WHERE node % 2 = 0) AS n_suppliers,
             COUNT(*) FILTER (WHERE node % 2 = 1) AS n_parts
      FROM (SELECT node, MIN(hop) AS hop FROM walk GROUP BY node)
      GROUP BY hop
      ORDER BY hop"""
    QueryDef(
      "graph_bfs_recursive_cte",
      (s, dir) => {
        graphSurface(s, dir).createOrReplaceTempView("graft_rec_edges")
        Tables.lineitem(s, dir).createOrReplaceTempView("graft_rec_lineitem")
        s.sql(walk.replace("%SEEDS%", "graft_rec_lineitem")
          .replace("%EDGES%", "graft_rec_edges"))
      },
      Some(walk.replace("%SEEDS%", "lineitem")
        .replace("%EDGES%",
          """(SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem
              UNION ALL
              SELECT DISTINCT l_partkey * 2 + 1 AS src, l_suppkey * 2 AS dst FROM lineitem)""")
        .stripMargin.trim))
  }

  val defs: Seq[QueryDef] =
    Seq(pagerank, bfsReachability, triangleCount, kcorePeel, linkPrediction,
      modularity, pprSeeded, recursiveCteBfs)
}
