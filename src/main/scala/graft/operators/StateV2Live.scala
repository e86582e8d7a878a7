package graft.operators

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor,
  StatefulProcessorWithInitialState, TimeMode, TimerValues, TTLConfig, ValueState, MapState}

import graft.{QueryDef, Tables}
import graft.streaming.LiveFeed

/** The event row as the stateful processor sees it: timestamps as UTC
  * microseconds and money as exact cents, so every piece of state is a
  * plain integer (no floating accumulation order to disagree on). */
final case class UEvt(user_id: Long, ts_us: Long, event_type: String, v2: Long,
    event_id: Long)

/** One cumulative snapshot per (user, micro-batch): everything the user
  * has done up to and including that batch. `batch_half` is derived
  * from the DATA (max event time vs the drop boundary), not from the
  * engine's batch counter, so the emitted rows are a pure function of
  * the input partitioning — the determinism the hash oracle needs. */
final case class USnap(user_id: Long, batch_half: Long, upto_ts_us: Long,
    n_cum: Long, sum_cum_e2: Long, n_types_cum: Long)

/** The backfilled state a user carries into the stream: the batch
  * aggregate of everything BEFORE the cutover, including the per-type
  * counts (a Map column — each entry lands as its own RocksDB key via
  * MapState, so a wide history never round-trips as one blob). */
final case class UInit(user_id: Long, n: Long, sum_e2: Long, max_ts_us: Long,
    types: Map[String, Long])

/** Spark 4 `transformWithState` — the arbitrary-state streaming API that
  * replaces `flatMapGroupsWithState` (SPARK-40434, "State API v2"):
  * typed named state primitives (`ValueState`, `MapState`) on the
  * RocksDB state store, instead of one opaque state object per key.
  *
  * The processor keeps, per user: a `ValueState[(n, sum_e2, max_ts)]`
  * running aggregate and a `MapState[event_type, count]` — the map
  * grows per-ENTRY in RocksDB (each type is its own store key), so a
  * key with a million map entries never round-trips as one blob, which
  * is the scale reason this API exists. Each micro-batch emits one
  * cumulative snapshot per active user; `batch_half` is 1 once the
  * user's latest event reaches `cutUs`.
  *
  * `handleInitialState` seeds both states from a [[UInit]] backfill when
  * the query passes one (`stream_tws_initial_state_live`); without one
  * (`stream_transform_with_state_live`) every key starts empty.
  *
  * Reference scope: the NPM mirror's consumer keeps exactly this shape
  * of per-key running state (last seq, per-status counters —
  * `data_pipeline/npm-mirror/app/changes_consumer.py:44-56`) in process
  * memory; this is the fault-tolerant, checkpointed form.
  */
private class CumStatsProcessor(cutUs: Long)
    extends StatefulProcessorWithInitialState[Long, UEvt, USnap, UInit] {

  @transient private var agg: ValueState[(Long, Long, Long)] = _
  @transient private var typeCounts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    agg = getHandle.getValueState[(Long, Long, Long)]("agg",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
      TTLConfig.NONE)
    typeCounts = getHandle.getMapState[String, Long]("typeCounts",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInitialState(key: Long, initialState: UInit,
      timerValues: TimerValues): Unit = {
    agg.update((initialState.n, initialState.sum_e2, initialState.max_ts_us))
    initialState.types.foreach { case (t, c) => typeCounts.updateValue(t, c) }
  }

  override def handleInputRows(key: Long, rows: Iterator[UEvt],
      timerValues: TimerValues): Iterator[USnap] = {
    var (n, sum, mx) =
      if (agg.exists()) agg.get() else (0L, 0L, Long.MinValue)
    rows.foreach { e =>
      n += 1; sum += e.v2
      if (e.ts_us > mx) mx = e.ts_us
      val prev = if (typeCounts.containsKey(e.event_type))
        typeCounts.getValue(e.event_type) else 0L
      typeCounts.updateValue(e.event_type, prev + 1L)
    }
    agg.update((n, sum, mx))
    val half = if (mx >= cutUs) 1L else 0L
    Iterator.single(USnap(key, half, mx, n, sum, typeCounts.keys().size.toLong))
  }
}

/** One ranked row of a user's last-3 buffer as of a micro-batch. */
final case class ULastN(user_id: Long, batch_half: Long, rank: Long,
    ts_us: Long, event_id: Long)

/** `ListState` — the third v2 state primitive (ValueState and MapState
  * are exercised by [[CumStatsProcessor]]): a BOUNDED last-N ring per
  * user. The trim-on-append is the load-bearing idea: cumulative top-N
  * is monotone (top-N of the union = top-N of (kept-N ∪ batch)), so
  * state stays O(N) per key forever — the recency-feature buffer shape
  * (last N events per user) that a naive implementation lets grow with
  * the feed. Each batch emits the user's current buffer, ranked.
  */
private class LastNProcessor(n: Int, midUs: Long)
    extends StatefulProcessor[Long, UEvt, ULastN] {

  @transient private var buf: ListState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    buf = getHandle.getListState[(Long, Long)]("buf",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[UEvt],
      timerValues: TimerValues): Iterator[ULastN] = {
    val prev = if (buf.exists()) buf.get().toArray else Array.empty[(Long, Long)]
    val kept = (prev ++ rows.map(e => (e.ts_us, e.event_id)))
      .sortBy { case (ts, id) => (-ts, -id) }(
        Ordering.Tuple2[Long, Long](Ordering.Long, Ordering.Long))
      .take(n)
    buf.put(kept)
    val half = if (kept.head._1 >= midUs) 1L else 0L
    Iterator.tabulate(kept.length) { i =>
      ULastN(key, half, i + 1L, kept(i)._1, kept(i)._2)
    }
  }
}

object StateV2Live {

  private val MID = "2024-01-16"
  private val MID_US = java.time.LocalDate.parse(MID).atStartOfDay
    .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L

  /** Shared staging for the two TWS queries: a [[LiveFeed]] on RocksDB
    * (the provider the v2 state API is built on) replaying the feed,
    * projected to [[UEvt]], as its two event-time halves. */
  private def stagedFeed(s0: SparkSession, dir: String)
      : (LiveFeed, org.apache.spark.sql.Dataset[UEvt]) = {
    val feed = LiveFeed(s0, "graft-tws")
    val s = feed.session
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ev = Tables.events(s, dir).select(
      col("user_id"),
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
      col("event_type"),
      (col("value").cast("decimal(12,2)") * 100).cast("long").as("v2"),
      col("event_id"))
    val mid = lit(MID).cast("timestamp")
    val tsCol = expr("timestamp_micros(ts_us)")
    implicit val evtEnc: Encoder[UEvt] = Encoders.product[UEvt]
    (feed, feed.stream(ev.filter(tsCol < mid), ev.filter(tsCol >= mid)).as[UEvt])
  }

  /** LIVE `transformWithState` query — see [[CumStatsProcessor]]. The two
    * event-time halves of the feed are dropped as two files whose
    * modification times are explicitly pinned (batch 0 strictly older),
    * so the file source's modTime ordering — and therefore the cumulative
    * snapshots — is deterministic. The DuckDB oracle re-derives the
    * snapshot algebra relationally: for every (user, half) with activity,
    * aggregate everything at or before that half.
    */
  val cumStats: QueryDef = QueryDef(
    "stream_transform_with_state_live",
    (s0, dir) => {
      val (feed, stream) = stagedFeed(s0, dir)
      implicit val snapEnc: Encoder[USnap] = Encoders.product[USnap]
      feed.toParquet(stream
        .groupByKey(_.user_id)(Encoders.scalaLong)
        .transformWithState(new CumStatsProcessor(MID_US),
          TimeMode.None(), OutputMode.Append()))
        .orderBy("user_id", "batch_half")
        .select("user_id", "batch_half", "upto_ts_us", "n_cum",
          "sum_cum_e2", "n_types_cum")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v2,
               CASE WHEN ts >= TIMESTAMP '$MID' THEN 1 ELSE 0 END AS h
        FROM events),
      halves AS (SELECT DISTINCT user_id, h FROM e)
      SELECT hv.user_id,
             CAST(hv.h AS BIGINT) AS batch_half,
             MAX(e.ts_us) AS upto_ts_us,
             COUNT(*) AS n_cum,
             CAST(SUM(e.v2) AS BIGINT) AS sum_cum_e2,
             CAST(COUNT(DISTINCT e.event_type) AS BIGINT) AS n_types_cum
      FROM halves hv JOIN e ON e.user_id = hv.user_id AND e.h <= hv.h
      GROUP BY 1, 2
      ORDER BY 1, 2
    """.stripMargin.trim))

  /** ListState last-N ring — see [[LastNProcessor]]. Emits each user's
    * current 3-newest events per micro-batch; the oracle re-derives the
    * ring relationally (per-(user, half) cumulative top-3). */
  val lastN: QueryDef = QueryDef(
    "stream_tws_list_state_lastn",
    (s0, dir) => {
      val (feed, stream) = stagedFeed(s0, dir)
      implicit val outEnc: Encoder[ULastN] = Encoders.product[ULastN]
      feed.toParquet(stream
        .groupByKey(_.user_id)(Encoders.scalaLong)
        .transformWithState(new LastNProcessor(3, MID_US),
          TimeMode.None(), OutputMode.Append()))
        .orderBy("user_id", "batch_half", "rank")
        .select("user_id", "batch_half", "rank", "ts_us", "event_id")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               CASE WHEN ts >= TIMESTAMP '$MID' THEN 1 ELSE 0 END AS h
        FROM events),
      halves AS (SELECT DISTINCT user_id, h FROM e),
      ranked AS (
        SELECT hv.user_id, hv.h, e.ts_us, e.event_id,
               ROW_NUMBER() OVER (PARTITION BY hv.user_id, hv.h
                 ORDER BY e.ts_us DESC, e.event_id DESC) AS rank
        FROM halves hv JOIN e ON e.user_id = hv.user_id AND e.h <= hv.h)
      SELECT user_id, CAST(h AS BIGINT) AS batch_half,
             CAST(rank AS BIGINT) AS rank, ts_us, event_id
      FROM ranked
      WHERE rank <= 3
      ORDER BY user_id, batch_half, rank
    """.stripMargin.trim))

  val defs: Seq[QueryDef] = Seq(cumStats, lastN)
}
