package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QueryDef, Tables}
import graft.streaming.LiveFeed

/** LIVE Structured Streaming forms of the two stateful stream operators
  * the batch analogs (EventOps / StreamAnalogs) cannot exercise: the
  * watermarked stream-stream interval join and streaming key dedup
  * (`dropDuplicatesWithinWatermark`). Each query replays the events
  * table as two file drops through [[LiveFeed]], one micro-batch per
  * drop, and returns a batch read of the sink — so the DuckDB oracle
  * checks the STREAMING engine's output, state management included.
  *
  * Both queries set a full-horizon watermark (35 days > the 30-day
  * feed): every row joins/dedups exactly as in batch, making the result
  * deterministic under ANY micro-batch partitioning of the input — the
  * determinism the hash-comparing gate requires. Production deployments
  * shrink the delay (e.g. 2 h) to bound state: the join state store then
  * holds only rows inside the interval+delay horizon per key, and the
  * dedup store only recent keys — O(arrival rate × horizon), not O(∞).
  */
object StreamLive {

  private val D = DecimalType(12, 2)

  val defs: Seq[QueryDef] = Seq(

    // ---- watermarked stream-stream interval join -------------------------
    // Ad-attribution shape: each purchase joins the views by the same
    // user in the preceding hour. Both sides are unbounded; Spark keys
    // the join state by user_id and the interval condition + watermark
    // let it evict state as event time advances.
    QueryDef(
      "stream_stream_join_attribution",
      (s0, dir) => {
        val feed = LiveFeed(s0, "graft-ss-join")
        val s = feed.session
        // one scan feeds all four drop-writes below (localCheckpoint, not
        // cache: GC-freed after the query, and the four writes are the
        // only consumers)
        val ev = Tables.events(s, dir).localCheckpoint(true)
        // watermark columns must be TIMESTAMP (not NTZ); session TZ is
        // pinned to UTC in every entry point, so the cast is value-exact
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_event_id"),
            col("ts").cast("timestamp").as("view_ts"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user_id"),
            col("event_id").as("purchase_event_id"),
            col("ts").cast("timestamp").as("purchase_ts"))
        val mid = lit("2024-01-16").cast("timestamp")
        // two crawl drops per side, the later half first: the watermark
        // then reaches its final value in batch 0, so no trailing no-data
        // batch runs for state eviction; the 35-day delay keeps every
        // row of the earlier half on time
        val Seq(vStream, pStream) = feed.streams(
          "v" -> Seq(views.filter(col("view_ts") >= mid), views.filter(col("view_ts") < mid)),
          "p" -> Seq(purchases.filter(col("purchase_ts") >= mid),
            purchases.filter(col("purchase_ts") < mid)))
        feed.toParquet(vStream.withWatermark("view_ts", "35 days")
          .join(pStream.withWatermark("purchase_ts", "35 days"),
            col("user_id") === col("p_user_id") &&
            col("purchase_ts") > col("view_ts") &&
            col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
          .select("user_id", "view_event_id", "purchase_event_id"))
          .orderBy("user_id", "view_event_id", "purchase_event_id")
      },
      Some("""
        SELECT v.user_id, v.event_id AS view_event_id, p.event_id AS purchase_event_id
        FROM events v
        JOIN events p ON v.user_id = p.user_id
         AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        ORDER BY v.user_id, view_event_id, purchase_event_id
      """.stripMargin.trim)),

    // ---- streaming key dedup (dropDuplicatesWithinWatermark) -------------
    // The at-least-once feed replayed IN FULL (every event delivered
    // twice, in two separate micro-batches); the streaming dedup state
    // admits each event_id once, so the sink holds exactly-once data.
    // The batch analog (stream_replay_exactly_once) proves the algebra;
    // this runs the real state-store path.
    QueryDef(
      "stream_dedup_within_watermark",
      (s0, dir) => {
        val feed = LiveFeed(s0, "graft-stream-dedup")
        val ev = Tables.events(feed.session, dir).select(col("event_id"),
          col("ts").cast("timestamp").as("ts"), // watermark needs TIMESTAMP; UTC session → value-exact
          col("event_type"), col("value"))
        // first delivery + full redelivery; ev is NOT checkpointed here,
        // so each drop write runs its own scan
        feed.toParquet(feed.stream(ev, ev)
          .withWatermark("ts", "35 days")
          .dropDuplicatesWithinWatermark("event_id"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_after_dedup"),
            sum(col("value").cast(D)).cast("double").as("total_value"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n_after_dedup,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
      """.stripMargin.trim)),

    // ---- live CDC upsert via foreachBatch --------------------------------
    // The lakehouse MERGE loop run as a real streaming query: the
    // pre-cutoff events form the base snapshot (latest state per user);
    // post-cutoff events arrive as file-source micro-batches and
    // foreachBatch folds each into the table. The merge is the
    // COMMUTATIVE form — every row carries its (ts, event_id) version
    // and the winner per user is the max version, with post-cutoff
    // `error` rows kept as TOMBSTONES until the final read filters
    // them — so the result is identical under ANY micro-batch
    // partitioning of the arrivals (the determinism the hash gate
    // requires, and the reason real CDC merges are versioned rather
    // than order-dependent). The batch sibling (`cdc_changelog_merge`)
    // audits change kinds; this one runs the actual incremental fold
    // through the streaming engine and checks the FINAL table.
    QueryDef(
      "stream_cdc_merge_live",
      (s0, dir) => {
        val feed = LiveFeed(s0, "graft-cdc-live")
        val cutoff = lit("2024-01-16").cast("timestamp")
        val mid2 = lit("2024-01-23").cast("timestamp")
        val ev = Tables.events(feed.session, dir)
          .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
            col("event_id"), col("event_type"))
          .localCheckpoint(true)
        // THE shared latest-per-user reduction (EventOps) — same
        // tie-break as the batch CDC merge by construction
        val base = EventOps.latestPerUser(ev.filter(col("ts") <= cutoff))
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("state"), lit(false).as("tombstone"))
        var table = base.localCheckpoint(true)
        val delta = ev.filter(col("ts") > cutoff)
        val arrivals = feed.stream(delta.filter(col("ts") <= mid2), delta.filter(col("ts") > mid2))
        feed.run(arrivals.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val upserts = EventOps.latestPerUser(batch)
              .select(col("user_id"), col("ts"), col("event_id"),
                col("event_type").as("state"),
                (col("event_type") === "error").as("tombstone"))
            table = EventOps.latestPerUser(table.unionByName(upserts))
              .localCheckpoint(true)
            ()
          })
        table.filter(!col("tombstone"))
          .groupBy(col("state"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("state")
      },
      Some("""
        WITH latest AS (
          SELECT user_id, event_type, ts,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events),
        winner AS (
          SELECT user_id, event_type AS state, ts FROM latest WHERE rn = 1)
        SELECT state, COUNT(*) AS n_users
        FROM winner
        WHERE NOT (state = 'error' AND ts > TIMESTAMP '2024-01-16 00:00:00')
        GROUP BY state
        ORDER BY state
      """.stripMargin.trim)),

    // ---- native session_window under REAL streaming execution ------------
    // The streaming twin of `event_session_window_native`: the same
    // 30-minute session aggregation run through the merging-sessions
    // state store across two event-time-ordered micro-batches, append
    // mode. Two deliberate protocol choices make the streamed result
    // equal the batch result row-for-row:
    //  - watermark delay = the session gap (30 min): a session the
    //    watermark has finalized has last-event < cutoff − delay, and a
    //    batch-2 event (ts > cutoff) could only merge into a session
    //    with last-event > cutoff − gap — an empty intersection, so no
    //    finalized session can ever need reopening. (The feed must
    //    arrive in event-time-ordered batches for this, which LiveFeed's
    //    pinned drop order guarantees.)
    //  - a far-future sentinel row (user −1, filtered from the final
    //    read) rides in the last batch so the closing watermark passes
    //    every real session's end — append mode emits them all.
    // The oracle is the batch query's SQL verbatim: the state-store
    // path must land on the identical session set.
    QueryDef(
      "stream_session_window_live",
      (s0, dir) => {
        val feed = LiveFeed(s0, "graft-sess-live")
        val s = feed.session
        val cutoff = lit("2024-01-16").cast("timestamp")
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
          .localCheckpoint(true)
        val arrivals = feed.stream(ev.filter(col("ts") <= cutoff),
          ev.filter(col("ts") > cutoff)
            .unionByName(s.range(1).select(lit(-1L).as("user_id"),
              lit("2024-06-01").cast("timestamp").as("ts"), lit(0.0).as("value"))))
        feed.toParquet(arrivals
          .withWatermark("ts", "30 minutes")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(D)).cast("double").as("session_value")))
          .filter(col("user_id") >= 0)
          .select(col("user_id"),
            col("sw.start").cast("timestamp_ntz").as("session_start"),
            col("sw.end").cast("timestamp_ntz").as("session_end"),
            col("n_events"), col("session_value"))
          .orderBy("user_id", "session_start")
      },
      // bit-identical to the batch session_window by the protocol above —
      // the oracle IS the batch query's SQL
      Some("""
        WITH marked AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
                        (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) >= 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events),
        sess AS (
          SELECT user_id, ts, value,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM marked)
        SELECT user_id, MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
        FROM sess
        GROUP BY user_id, sid
        ORDER BY user_id, session_start
      """.stripMargin.trim))
  )
}
