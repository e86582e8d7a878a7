package graft.npm

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import model._

/** The consumer pipeline (SURVEY.md §3.2), batch form. The streaming form
  * (graft.streaming.NpmStream) rebinds these same stages to a streaming
  * source — stages are DataFrame→DataFrame functions, so batch replay is
  * fully testable without Kafka (SURVEY.md §7.1 build order).
  *
  * [[replay]] is one pass: the feed is scanned and parsed once, and every
  * line gets exactly one route. Stage chain and the reference operators
  * each one re-expresses:
  *   scan: parse (T1) + line byte size (F8)
  *   → normalize (T3/F7; not run for oversized or unparseable lines)
  *   → derived columns + validity/size checks (F1,F2,F4,P3)
  *   → slim projection: catalog (P1,T4,T6,T7,F6) and retention-arrival columns
  *   → enrichment (S6/F5, injectable; one nondeterministic fetch column,
  *     evaluated once per row that passed the checks)
  *   → route: the first of msg_too_large/produce, corrupt_json/parse, the
  *     [[withDerived]] reject chain, http_<status>/download; none → catalog
  *   → one cached routed frame, of which catalog (K4), skipped DLQ (K3),
  *     audit events (K2) and retention evictions (A5 → K5) are filters and
  *     projections.
  *
  * Every stage up to the route is a Catalyst expression over internal
  * rows (no object round trip), so the routed projection runs in
  * whole-stage codegen.
  *
  * Declarative-wins note (§4.1): size caps run BEFORE any payload work
  * (the reference's F4 pre-download variant, legacy mirror.ts:119), so the
  * F3 "delete the already-written JSON" cascade becomes unnecessary.
  */
object Pipeline {

  val RemotePackageDir = "npm-mirror-packages"

  /** Injectable tarball fetcher (S6): url → (http status, byte count).
    * Production would do real HTTP with a connection pool per task (each
    * task deserializes its own copy); tests inject a deterministic
    * Map-backed stub (FIXTURES.md F3). Must be serializable.
    */
  type Fetcher = String => (Int, Long)
  object AlwaysOk extends (String => (Int, Long)) with Serializable {
    def apply(url: String): (Int, Long) = (200, 0L)
  }

  final case class PipelineResult(
      catalog: DataFrame,   // CatalogRecord rows
      skipped: DataFrame,   // Skipped rows (DLQ)
      audit: DataFrame,     // AuditEvent rows
      deletions: DataFrame, // Retention.Eviction rows
      routed: DataFrame)    // the cached frame the four read; unpersist once they are written

  /** Built once: deriving an encoder by reflection is planning work that
    * every micro-batch would otherwise pay again. */
  private lazy val changeEncoder: Encoder[Change] = Encoders.product[Change]

  /** T1: raw JSON lines → typed change column + retained raw string. */
  def parse(raw: DataFrame): DataFrame =
    raw.select(
      from_json(col("value"), changeSchema).as("c"),
      col("value").as("raw"))

  /** Byte size of a raw feed line, for the F8 broker cap. octet_length,
    * not length: the cap is a BYTE limit and npm docs carry multibyte
    * UTF-8 (CJK descriptions, emoji) — a 6M-char line can be 12 MiB of
    * bytes. NULL values (Kafka tombstones) count as 0 bytes so they are
    * parsed and land in the DLQ as corrupt_json — a bare filter would
    * drop them from both routes.
    */
  private def lineBytes(value: Column): Column = coalesce(octet_length(value), lit(0L))

  /** F8/E2: split the raw feed on the broker message cap. Rows whose
    * serialized change exceeds MaxKafkaMessageBytes can never be produced
    * (MSG_SIZE_TOO_LARGE) — the reference catches the produce failure and
    * writes the seq to `skipped_changes` (changes_producer.py:74-84,
    * producer.ts:185-194); declaratively that's a length pre-filter, so
    * the routing also works where there is no Kafka hop at all (batch
    * replay, file source). Returns (fit, skippedRows) where skippedRows
    * is already in DLQ shape (seq, package_name, reason, stage).
    */
  def splitOversized(raw: DataFrame): (DataFrame, DataFrame) = {
    val bytes = lineBytes(col("value"))
    val fit = raw.filter(bytes <= MaxKafkaMessageBytes)
    val oversized = parse(raw.filter(bytes > MaxKafkaMessageBytes))
      .select(
        col("c.seq").as("seq"), col("c.id").as("package_name"),
        lit("msg_too_large").as("reason"), lit("produce").as("stage"))
    (fit, oversized)
  }

  /** T3 as one native `normalize_doc` expression per doc
    * ([[Normalize.normalizedDocColumn]]) — no per-row encoder round-trip.
    * Semantically equal to the typed [[normalizeTyped]]
    * (NormalizeColumnsSpec pins it); the typed form stays as the
    * property-tested reference semantics.
    */
  def normalize(parsed: DataFrame)(implicit spark: SparkSession): Dataset[Change] = {
    // register on the session that OWNS the frame: under foreachBatch the
    // micro-batch runs in a cloned session whose registry is isolated
    // from the driver session's
    graft.functions.SemverExpressions.register(parsed.sparkSession)
    parsed.filter(col("c").isNotNull && col("c.seq").isNotNull)
      .select("c.*")
      .withColumn("doc", Normalize.normalizedDocColumn(col("doc")))
      .as(changeEncoder)
  }

  /** T3 applied through the typed API (pure function, property-tested). */
  def normalizeTyped(parsed: DataFrame)(implicit spark: SparkSession): Dataset[Change] =
    parsed.filter(col("c").isNotNull && col("c.seq").isNotNull)
      .select("c.*").as(changeEncoder)
      .map(Normalize.normalizeChange)(changeEncoder)

  /** Derived columns + validity flags over normalized changes. Everything
    * here is Column DSL → codegen'd, null-safe via map element_at.
    */
  def withDerived(changes: Dataset[Change]): DataFrame = derive(changes.toDF())

  /** [[withDerived]] over any frame with Change's columns (extra columns
    * pass through). The F2 doc size is `to_json_length(doc)`, equal to
    * `length(to_json(doc))` without building the JSON string.
    */
  private def derive(df: DataFrame): DataFrame = {
    graft.functions.SemverExpressions.register(df.sparkSession)
    df
      .withColumn("latest", element_at(col("doc.`dist-tags`"), "latest"))
      .withColumn("latest_version_doc", element_at(col("doc.versions"), col("latest")))
      .withColumn("latest_time_str", element_at(col("doc.time"), col("latest")))
      .withColumn("doc_json_size", call_function("to_json_length", col("doc")))
      .withColumn("tarball_url", col("latest_version_doc.dist.tarball"))
      .withColumn("tarball_size", col("latest_version_doc.dist.unpackedSize"))
      // T4 scoped-name split + T6 dir prefix + T7/F6 filename templating
      .withColumn("split_name", element_at(split(col("id"), "/"), -1))
      .withColumn("dir_prefix",
        when(length(col("id")) >= DirHashLength, upper(substring(col("id"), 1, DirHashLength)))
          .otherwise(upper(substring(col("id"), 1, 1))))
      .withColumn("package_dir",
        concat_ws("/", lit(RemotePackageDir), col("dir_prefix"), col("id")))
      .withColumn("zip_name",
        concat(
          when(coalesce(col("deleted"), lit(false)), lit("Deleted-")).otherwise(lit("")),
          col("split_name"), lit("_"), col("doc._rev"), lit(".zip")))
      .withColumn("save_path", concat_ws("/", col("package_dir"), col("zip_name")))
      // A5 trigger heuristic: len(time) - len(versions) == 2
      .withColumn("retention_triggered",
        coalesce(size(col("doc.time")) - size(col("doc.versions")) === 2,
          lit(false)))
      // rejection reason: first failing check wins (ordered like the
      // reference's sequential control flow)
      .withColumn("reject_reason",
        when(col("doc").isNull, "no_doc")                                  // F1 / normalize-dropped
          .when(col("doc_json_size") > MaxArtifactBytes, "doc_too_large")  // F2
          .when(col("latest").isNull, "missing_latest_tag")                // P3 guard
          .when(col("latest_version_doc").isNull, "missing_latest_version")
          .when(col("latest_time_str").isNull, "missing_latest_time")
          .when(col("tarball_size") > MaxArtifactBytes, "tarball_too_large")) // F4
      .withColumn("reject_stage",
        when(col("reject_reason").isin("no_doc"), "download")
          .when(col("reject_reason").isin("doc_too_large", "tarball_too_large"), "size_filter")
          .otherwise("catalog"))
  }

  /** S6 enrichment, row-preserving: appends `tarball_status` and
    * `fetched_bytes` to every row of `rows` (which must carry
    * `reject_reason` and `tarball_url`; a null url is fetched as "").
    * The fetch is one nondeterministic UDF column under
    * `when(reject_reason IS NULL)`: Catalyst never duplicates a
    * nondeterministic expression (no project collapse, no subexpression
    * elimination), so the fetcher is called exactly once for each row
    * whose `reject_reason` is null and never for a rejected row, which
    * gets nulls. Each task deserializes the fetcher once (one binding,
    * one connection pool, per task). Rows stay internal, so the
    * projection stays in whole-stage codegen. No join, so no Exchange;
    * F5 status routing is the caller's.
    */
  def enrich(rows: DataFrame, fetcher: Fetcher)(implicit spark: SparkSession): DataFrame = {
    val fetch = udf((url: String) => fetcher(if (url == null) "" else url)).asNondeterministic()
    rows
      .withColumn("fetched", when(col("reject_reason").isNull, fetch(col("tarball_url"))))
      .withColumn("tarball_status", col("fetched._1"))
      .withColumn("fetched_bytes", col("fetched._2"))
      .drop("fetched")
  }

  /** P1 catalog columns over [[withDerived]]'s output, by CatalogRecord
    * name (package_name and change_seq_id come from id and seq).
    */
  private val catalogColumns: Seq[(String, Column)] = Seq(
    "package_revision_id" -> col("doc._rev"),
    "package_latest_version" -> col("latest"),
    "package_versions_count" -> size(col("doc.versions")),
    "package_modification_count" -> size(col("doc.time")),
    "package_latest_change_time" ->
      to_timestamp(col("latest_time_str"), "yyyy-MM-dd'T'HH:mm:ss.SSSX"),
    "package_latest_authors" -> col("latest_version_doc.author"),
    "package_latest_maintainers" -> col("latest_version_doc.maintainers"),
    "package_latest_dependencies" -> col("latest_version_doc.dependencies"),
    "change_save_path" -> col("save_path"),
    "package_deleted" -> coalesce(col("deleted"), lit(false)),
    "package_distribution_tags" -> col("doc.`dist-tags`"))
  private val catalogNames = catalogColumns.map(_._1)

  /** A5 arrival columns over [[withDerived]]'s output. */
  private val arrivalNames = Seq("package_dir", "zip_name", "retention_triggered")

  /** Full batch replay, in one pass (see the object doc). Only the routed
    * frame is cached — seq, id, reason, stage, the catalog and the arrival
    * columns, never the normalized doc — so the feed is read once and each
    * passing row is fetched once however many of the outputs are written.
    */
  def replay(
      raw: DataFrame,
      fetcher: Fetcher = AlwaysOk)(implicit spark: SparkSession): PipelineResult = {
    graft.functions.SemverExpressions.register(raw.sparkSession)

    val oversized = lineBytes(col("raw")) > MaxKafkaMessageBytes
    val unparsed = col("c.seq").isNull
    val lines = parse(raw).select(
      col("c.seq").as("seq"), col("c.id").as("id"), col("c.deleted").as("deleted"),
      when(!oversized && !unparsed, Normalize.normalizedDocColumn(col("c.doc"))).as("doc"),
      when(oversized, "msg_too_large").when(unparsed, "corrupt_json").as("line_reason"),
      when(oversized, "produce").when(unparsed, "parse").as("line_stage"))

    // derive keeps the line_* columns; their null doc makes it reject
    // those lines, so enrich never fetches for them
    val slim = derive(lines).select(
      Seq(col("seq"), col("id"), col("line_reason"), col("line_stage"),
        col("reject_reason"), col("reject_stage"), col("tarball_url")) ++
      catalogColumns.map { case (n, c) => c.as(n) } ++ arrivalNames.map(col): _*)

    val fetchFailed = col("tarball_status") =!= 200
    val routed = enrich(slim, fetcher).select(
      Seq(col("seq"), col("id"),
        coalesce(col("line_reason"), col("reject_reason"),
          when(fetchFailed, concat(lit("http_"), col("tarball_status")))).as("reason"),
        coalesce(col("line_stage"), when(col("reject_reason").isNotNull, col("reject_stage")),
          when(fetchFailed, lit("download"))).as("stage")) ++
      (catalogNames ++ arrivalNames).map(col): _*)
      .cache()

    val kept = routed.filter(col("reason").isNull)
    val catalog = kept.select(
      Seq(col("id").as("package_name"), col("seq").as("change_seq_id")) ++ catalogNames.map(col): _*)
    val skipped = routed.filter(col("reason").isNotNull)
      .select(col("seq"), col("id").as("package_name"), col("reason"), col("stage"))
    val audit = kept.select(col("seq"),
        explode(array(lit("downloaded_in_local"), lit("moved_to_remote"), lit("added_to_db")))
          .as("stage"))
    val arrivals = kept.select(
        col("package_dir"), col("zip_name").as("file_name"),
        col("seq").as("ctime"), col("retention_triggered"))
      .as(Retention.zipArrivalEncoder)
    val deletions = Retention.evictions(arrivals).toDF()

    PipelineResult(catalog, skipped, audit, deletions, routed)
  }
}
