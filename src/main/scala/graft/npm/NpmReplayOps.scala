package graft.npm

import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** End-to-end pipeline queries inside the correctness gate: a change feed
  * is synthesized deterministically FROM the `part` table (T2 serialize),
  * pushed through the full consumer pipeline (T1 parse → T3 normalize →
  * F1/F2/F4 filters → P1 projection), and the catalog/DLQ outputs are
  * checked against a plain-SQL oracle over `part` — the oracle knows what
  * the catalog must contain without parsing any JSON, so any pipeline
  * regression (schema, normalization, routing, path templating) breaks
  * the hash match.
  *
  * Feed construction (all mod-arithmetic on p_partkey):
  *   %5 == 0 → scoped name "@graft/pkg-N"   (T4/T6 path handling)
  *   %7 == 0 → malformed "v"-prefixed semver (T3 clean must repair)
  *   %11 == 0 → change without doc           (F1 → DLQ no_doc)
  *   %13 == 0 → 20MB tarball                 (F4 → DLQ tarball_too_large)
  * plus ONE synthetic >10 MiB change (seq 0) (F8/E2 → DLQ msg_too_large)
  */
object NpmReplayOps {

  /** The five analytics queries below all start from the same replayed
    * catalog; memoize the PipelineResult per (session, sfDir) — with its
    * catalog cached — so a Verify/Bench run executes the pipeline once,
    * not once per query.
    */
  private val replaySurface = graft.PinnedStorage.surface[Pipeline.PipelineResult]

  private def replayFor(s: org.apache.spark.sql.SparkSession, dir: String): Pipeline.PipelineResult =
    replaySurface(s, dir) {
      implicit val spark = s
      // eager localCheckpoint: materialized once per (session, dir) and
      // immune to spark.catalog.clearCache() between bench passes;
      // pinned so the per-query storage sweep doesn't drop blocks the
      // other replay-backed queries still dereference. replay()'s
      // routed cache is pinned DELIBERATELY here (unlike the pair
      // surface's label loop): the returned audit/deletions frames
      // dereference it.
      val r = Pipeline.replay(feed(s, dir))
      r.copy(
        catalog = r.catalog.localCheckpoint(true),
        skipped = r.skipped.localCheckpoint(true))
    }

  /** The deterministic change feed synthesized from `part` (see class
    * doc); public so PipelineBench can measure the pipeline over the
    * exact feed the correctness gate replays.
    */
  def syntheticFeed(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    feed(s, dir)

  /** The feed replicated `rep`× for throughput sweeps that need more
    * changes than `part` carries (PipelineBench's batch-size
    * amortization rows): replica r shifts every p_partkey by
    * r · 300,300 — the lcm of every modulus the feed classes use
    * (5·7·11·13 · 12 · 50 · 100), so seqs stay globally unique while
    * each replica reproduces the exact class mix (scoped names,
    * malformed semvers, no-doc and oversized-tarball DLQ routes). The
    * correctness-gate feed is untouched (rep = 1 is that feed). */
  def syntheticFeedReplicated(s: org.apache.spark.sql.SparkSession, dir: String,
      rep: Int): org.apache.spark.sql.DataFrame = {
    val base = Tables.part(s, dir)
    val reps = base
      .crossJoin(s.range(rep.toLong).select(col("id").as("r")))
      .withColumn("p_partkey", col("p_partkey") + col("r") * lit(300300L))
      .drop("r")
    feedFrom(reps, s)
  }

  private def feed(s: org.apache.spark.sql.SparkSession, dir: String) =
    feedFrom(Tables.part(s, dir), s)

  private def feedFrom(part: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.SparkSession) = {
    val p = part
      .withColumn("id",
        when(col("p_partkey") % 5 === 0, concat(lit("@graft/pkg-"), col("p_partkey")))
          .otherwise(concat(lit("pkg-"), col("p_partkey"))))
      .withColumn("ver", concat(lit("1."), col("p_size") % 10, lit(".0")))
      .withColumn("ver_raw",
        when(col("p_partkey") % 7 === 0, concat(lit("v"), col("ver"))).otherwise(col("ver")))
      .withColumn("tar_size",
        when(col("p_partkey") % 13 === 0, lit(20000000L)).otherwise(col("p_size").cast("long") * 1000))
      .withColumn("t", concat(lit("2020-"),
        lpad((col("p_partkey") % 12 + 1).cast("string"), 2, "0"),
        lit("-01T00:00:00.000Z")))
      .withColumn("author_name", concat(lit("author-"), col("p_partkey") % 50))
    val doc = struct(
      col("id").as("_id"), lit("1-r").as("_rev"), col("id").as("name"),
      map(lit("latest"), col("ver_raw")).as("dist-tags"),
      map(col("ver_raw"), struct(
        col("ver_raw").as("version"),
        struct(col("author_name").as("name"),
          concat(col("author_name"), lit("@x.io")).as("email")).as("author"),
        struct(
          concat(lit("http://r/"), col("id"), lit(".tgz")).as("tarball"),
          col("tar_size").as("unpackedSize"),
          lit("sha").as("shasum")).as("dist"),
        map(
          concat(lit("pkg-"), col("p_partkey") % 100), lit("^1.0.0"),
          lit("dep-common"), lit("~2.0.0")).as("dependencies"))).as("versions"),
      map(col("ver_raw"), col("t"), lit("created"), col("t"), lit("modified"), col("t")).as("time"))
    val rows = p.select(
      when(col("p_partkey") % 11 === 0,
        to_json(struct(col("p_partkey").as("seq"), col("id"))))
      .otherwise(
        to_json(struct(col("p_partkey").as("seq"), col("id"), doc.as("doc"))))
      .as("value"))
    // one change whose serialized line exceeds the 10 MiB broker cap
    // (seq 0 — below every p_partkey): the F8/E2 produce-failure route.
    // The padding lives INSIDE the JSON object so seq/id still parse for
    // the DLQ record, exactly what the reference's producer logs.
    val oversized = s.range(1).select(
      concat(lit("{\"seq\":0,\"id\":\"pkg-oversized\",\"pad\":\""),
        repeat(lit("x"), (model.MaxKafkaMessageBytes + 100).toInt), lit("\"}")).as("value"))
    rows.unionByName(oversized)
  }

  val replayCatalog: QueryDef = QueryDef(
    "npm_pipeline_replay_catalog",
    (s, dir) => {
      implicit val spark = s
      replayFor(s, dir).catalog
        .select(
          col("change_seq_id"), col("package_name"),
          col("package_latest_version"),
          col("package_versions_count").cast("long").as("package_versions_count"),
          col("package_modification_count").cast("long").as("package_modification_count"),
          expr("CAST(package_latest_change_time AS TIMESTAMP_NTZ)").as("package_latest_change_time"),
          col("change_save_path"), col("package_deleted"))
        .orderBy("change_seq_id")
    },
    Some("""
      SELECT p_partkey AS change_seq_id,
             CASE WHEN p_partkey % 5 = 0 THEN '@graft/pkg-' || p_partkey
                  ELSE 'pkg-' || p_partkey END AS package_name,
             '1.' || CAST(p_size % 10 AS VARCHAR) || '.0' AS package_latest_version,
             CAST(1 AS BIGINT) AS package_versions_count,
             CAST(3 AS BIGINT) AS package_modification_count,
             make_timestamp(2020, CAST(p_partkey % 12 + 1 AS BIGINT), 1, 0, 0, 0) AS package_latest_change_time,
             'npm-mirror-packages/' ||
               upper(substr(CASE WHEN p_partkey % 5 = 0 THEN '@graft/pkg-' || p_partkey
                                 ELSE 'pkg-' || p_partkey END, 1, 3)) || '/' ||
               CASE WHEN p_partkey % 5 = 0 THEN '@graft/pkg-' || p_partkey
                    ELSE 'pkg-' || p_partkey END || '/' ||
               'pkg-' || p_partkey || '_1-r.zip' AS change_save_path,
             FALSE AS package_deleted
      FROM part
      WHERE p_partkey % 11 != 0 AND p_partkey % 13 != 0
      ORDER BY change_seq_id
    """.stripMargin.trim))

  val replayDlq: QueryDef = QueryDef(
    "npm_pipeline_replay_dlq",
    (s, dir) => {
      implicit val spark = s
      replayFor(s, dir).skipped
        .select(col("seq"), col("package_name"), col("reason"), col("stage"))
        // seq alone is not total: the synthetic oversized-produce row
        // shares seq=0 with part 0's no_doc row — stage breaks the tie
        .orderBy("seq", "stage")
    },
    Some("""
      SELECT seq, package_name, reason, stage FROM (
        SELECT p_partkey AS seq,
               CASE WHEN p_partkey % 5 = 0 THEN '@graft/pkg-' || p_partkey
                    ELSE 'pkg-' || p_partkey END AS package_name,
               CASE WHEN p_partkey % 11 = 0 THEN 'no_doc' ELSE 'tarball_too_large' END AS reason,
               CASE WHEN p_partkey % 11 = 0 THEN 'download' ELSE 'size_filter' END AS stage
        FROM part
        WHERE p_partkey % 11 = 0 OR p_partkey % 13 = 0
        UNION ALL
        SELECT CAST(0 AS BIGINT), 'pkg-oversized', 'msg_too_large', 'produce')
      ORDER BY seq, stage
    """.stripMargin.trim))

  /** §7.4 dependency-graph analytics over the replayed catalog: explode
    * the `package_latest_dependencies` map into edges (the Generator/UDTF
    * surface of SURVEY §2.10) and rank in-degree. The oracle reconstructs
    * the expected edge set arithmetically from `part`.
    */
  val dependencyDegree: QueryDef = QueryDef(
    "npm_dependency_indegree",
    (s, dir) => {
      implicit val spark = s
      replayFor(s, dir).catalog
        .select(col("package_name"),
          explode(col("package_latest_dependencies")).as(Seq("dep_name", "dep_range")))
        .groupBy("dep_name")
        .agg(count(lit(1)).as("n_dependents"))
        .filter(col("dep_name") =!= "dep-common")
        .orderBy("dep_name")
    },
    Some("""
      SELECT 'pkg-' || CAST(p_partkey % 100 AS VARCHAR) AS dep_name,
             COUNT(*) AS n_dependents
      FROM part
      WHERE p_partkey % 11 != 0 AND p_partkey % 13 != 0
      GROUP BY 1
      ORDER BY dep_name
    """.stripMargin.trim))

  /** §7.4 per-author stats over the replayed catalog. */
  val packagesPerAuthor: QueryDef = QueryDef(
    "npm_packages_per_author",
    (s, dir) => {
      implicit val spark = s
      replayFor(s, dir).catalog
        .groupBy(col("package_latest_authors.name").as("author"))
        .agg(count(lit(1)).as("n_packages"))
        .orderBy("author")
    },
    Some("""
      SELECT 'author-' || CAST(p_partkey % 50 AS VARCHAR) AS author,
             COUNT(*) AS n_packages
      FROM part
      WHERE p_partkey % 11 != 0 AND p_partkey % 13 != 0
      GROUP BY 1
      ORDER BY author
    """.stripMargin.trim))

  /** §7.4 version-cadence time series: releases per calendar month. */
  val versionCadence: QueryDef = QueryDef(
    "npm_version_cadence_monthly",
    (s, dir) => {
      implicit val spark = s
      replayFor(s, dir).catalog
        .groupBy(month(col("package_latest_change_time")).cast("long").as("release_month"))
        .agg(count(lit(1)).as("n_releases"))
        .orderBy("release_month")
    },
    Some("""
      SELECT CAST(p_partkey % 12 + 1 AS BIGINT) AS release_month,
             COUNT(*) AS n_releases
      FROM part
      WHERE p_partkey % 11 != 0 AND p_partkey % 13 != 0
      GROUP BY 1
      ORDER BY release_month
    """.stripMargin.trim))

  /** T3 semver cleaning through the native codegen expression
    * (functions.SemverClean), oracle-checked: raw version strings are
    * synthesized arithmetically to cover every clean rule — v-prefix,
    * uncleanable two-part, leading zeros, loose prerelease, canonical —
    * and the oracle states the expected canonical form for each case.
    */
  val semverNative: QueryDef = QueryDef(
    "t3_semver_clean_native",
    (s, dir) => {
      graft.functions.SemverExpressions.register(s)
      Tables.part(s, dir)
        .withColumn("ver", concat(lit("1."), col("p_size") % 10, lit(".0")))
        .withColumn("raw_version",
          when(col("p_partkey") % 7 === 0, concat(lit("v"), col("ver")))
            .when(col("p_partkey") % 5 === 0, lit("1.0"))
            .when(col("p_partkey") % 3 === 0, concat(lit("01."), col("p_size") % 10, lit(".00")))
            .when(col("p_partkey") % 2 === 0, concat(col("ver"), lit("beta")))
            .otherwise(col("ver")))
        .select(col("p_partkey"), col("raw_version"),
          expr("semver_clean(raw_version)").as("cleaned"))
        .orderBy("p_partkey")
    },
    Some("""
      WITH v AS (
        SELECT p_partkey, p_size,
               '1.' || CAST(p_size % 10 AS VARCHAR) || '.0' AS ver
        FROM part)
      SELECT p_partkey,
             CASE WHEN p_partkey % 7 = 0 THEN 'v' || ver
                  WHEN p_partkey % 5 = 0 THEN '1.0'
                  WHEN p_partkey % 3 = 0 THEN '01.' || CAST(p_size % 10 AS VARCHAR) || '.00'
                  WHEN p_partkey % 2 = 0 THEN ver || 'beta'
                  ELSE ver END AS raw_version,
             CASE WHEN p_partkey % 7 = 0 THEN ver
                  WHEN p_partkey % 5 = 0 THEN NULL
                  WHEN p_partkey % 3 = 0 THEN ver
                  WHEN p_partkey % 2 = 0 THEN ver || '-beta'
                  ELSE ver END AS cleaned
      FROM v
      ORDER BY p_partkey
    """.stripMargin.trim))

  /** §7.2's named query — catalog compaction, "latest change wins per
    * package": two changes per package (the replay catalog unioned with a
    * later-seq copy) compacted with max_by on the change sequence. This
    * is the A6/"latest version per package" shape the mirror catalog
    * exists to answer; one shuffle on package_name, map-side combinable.
    */
  val catalogCompaction: QueryDef = QueryDef(
    "npm_catalog_compaction_latest",
    (s, dir) => {
      implicit val spark = s
      val cat = replayFor(s, dir).catalog
        .select(col("package_name"), col("change_seq_id"),
          col("package_latest_version"))
      val twice = cat.unionByName(
        cat.withColumn("change_seq_id", col("change_seq_id") + 1000000))
      twice.groupBy("package_name")
        .agg(
          max_by(struct(col("change_seq_id"), col("package_latest_version")), col("change_seq_id"))
            .as("latest"))
        .select(col("package_name"),
          col("latest.change_seq_id").as("latest_seq"),
          col("latest.package_latest_version").as("latest_version"))
        .orderBy("package_name")
    },
    Some("""
      SELECT CASE WHEN p_partkey % 5 = 0 THEN '@graft/pkg-' || p_partkey
                  ELSE 'pkg-' || p_partkey END AS package_name,
             p_partkey + 1000000 AS latest_seq,
             '1.' || CAST(p_size % 10 AS VARCHAR) || '.0' AS latest_version
      FROM part
      WHERE p_partkey % 11 != 0 AND p_partkey % 13 != 0
      ORDER BY package_name
    """.stripMargin.trim))

  val defs: Seq[QueryDef] =
    Seq(replayCatalog, replayDlq, dependencyDegree, packagesPerAuthor, versionCadence,
      semverNative, catalogCompaction)
}
