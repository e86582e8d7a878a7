package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.{QueryDef, Tables}
import graft.streaming.LiveFeed

/** `transformWithState` with an initial state — the LAMBDA-MIGRATION
  * shape: bootstrap the streaming state store from a BATCH backfill, then
  * continue live. The batch job aggregates the historical half of the
  * feed into one row per user; [[CumStatsProcessor]]'s
  * `handleInitialState` seeds ValueState + MapState from it before the
  * first micro-batch, and the stream then processes only post-cutover
  * events — emitting cumulative snapshots that must be
  * indistinguishable from a stream that had seen the whole feed. That
  * equivalence is the oracle: DuckDB computes the full-history
  * cumulative algebra, restricted to post-cutover activity windows.
  *
  * At 100 TB this is how a stateful pipeline deploys at all: replaying
  * months of history through micro-batches to warm state is a
  * non-starter; the backfill is one batch aggregation and the stream
  * starts at the cutover offset.
  */
object StateV2Init {

  private val CUT1 = "2024-01-16" // batch/stream cutover
  private val CUT2 = "2024-01-23" // boundary between the two live batches
  private def usOf(d: String): Long = java.time.LocalDate.parse(d).atStartOfDay
    .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L

  val warmStart: QueryDef = QueryDef(
    "stream_tws_initial_state_live",
    (s0, dir) => {
      val feed = LiveFeed(s0, "graft-tws-init")
      val s = feed.session
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val ev = Tables.events(s, dir).select(
        col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        col("event_type"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("v2"),
        col("event_id"))
      implicit val evtEnc: Encoder[UEvt] = Encoders.product[UEvt]
      implicit val snapEnc: Encoder[USnap] = Encoders.product[USnap]
      implicit val initEnc: Encoder[UInit] = Encoders.product[UInit]
      // --- the batch backfill: aggregate the pre-cutover history ---
      // totals and the per-type map come from the (user, type) grain in
      // one shuffle: per-type partials roll up to the user totals
      val init = ev.filter(col("ts_us") < usOf(CUT1))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("c"), sum(col("v2")).as("sv"),
          max(col("ts_us")).as("mt"))
        .groupBy("user_id")
        .agg(sum(col("c")).as("n"), sum(col("sv")).as("sum_e2"),
          max(col("mt")).as("max_ts_us"),
          map_from_entries(collect_list(struct(col("event_type"), col("c"))))
            .as("types"))
        .as[UInit]
        .groupByKey(_.user_id)(Encoders.scalaLong)
      // --- the live side: post-cutover events, two drops ---
      val tsCol = expr("timestamp_micros(ts_us)")
      val snaps = feed.stream(
          ev.filter(tsCol >= lit(CUT1).cast("timestamp") && tsCol < lit(CUT2).cast("timestamp")),
          ev.filter(tsCol >= lit(CUT2).cast("timestamp")))
        .as[UEvt]
        .groupByKey(_.user_id)(Encoders.scalaLong)
        .transformWithState(new CumStatsProcessor(usOf(CUT2)),
          TimeMode.None(), OutputMode.Append(), init,
          Encoders.product[USnap], Encoders.product[UInit])
      feed.toParquet(snaps).orderBy("user_id", "batch_half")
        .select("user_id", "batch_half", "upto_ts_us", "n_cum",
          "sum_cum_e2", "n_types_cum")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v2,
               CASE WHEN ts >= TIMESTAMP '$CUT2' THEN 1
                    WHEN ts >= TIMESTAMP '$CUT1' THEN 0
                    ELSE -1 END AS h
        FROM events),
      live AS (SELECT DISTINCT user_id, h FROM e WHERE h >= 0)
      SELECT lv.user_id,
             CAST(lv.h AS BIGINT) AS batch_half,
             MAX(e.ts_us) AS upto_ts_us,
             COUNT(*) AS n_cum,
             CAST(SUM(e.v2) AS BIGINT) AS sum_cum_e2,
             CAST(COUNT(DISTINCT e.event_type) AS BIGINT) AS n_types_cum
      FROM live lv JOIN e ON e.user_id = lv.user_id AND e.h <= lv.h
      GROUP BY 1, 2
      ORDER BY 1, 2
    """.stripMargin.trim))

  val defs: Seq[QueryDef] = Seq(warmStart)
}
