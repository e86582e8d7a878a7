package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import graft.{QueryDef, Tables}
import graft.streaming.LiveFeed

/** Input/output rows for the event-time-timer processor, everything in
  * epoch MILLIS (the unit `registerTimer`/watermark speak natively). */
final case class TEvt(user_id: Long, ts_ms: Long)
final case class TFire(user_id: Long, last_seen_ms: Long, fired_at_ms: Long)

/** Event-time TIMERS on the Spark 4 State API v2: per-user quiet-gap
  * detection. Every input batch moves the user's single timer to
  * `last_seen + GAP`; when the event-time watermark passes a timer that
  * no newer activity replaced, `handleExpiredTimer` emits the quiet
  * marker. Because input rows are processed BEFORE timer evaluation
  * within a micro-batch, a user active in the batch re-registers first
  * and the stale timer never fires — so with a final watermark flush the
  * fired set is exactly {user : last_seen + GAP ≤ max event time}, one
  * marker per user, independent of how the feed was micro-batched
  * (StateV2TimersSpec pins this against a shuffled replay).
  */
private class QuietUserProcessor(gapMs: Long)
    extends StatefulProcessor[Long, TEvt, TFire] {

  @transient private var lastSeen: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    lastSeen = getHandle.getValueState[Long]("lastSeen",
      Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TEvt],
      timerValues: TimerValues): Iterator[TFire] = {
    var mx = if (lastSeen.exists()) lastSeen.get() else Long.MinValue
    rows.foreach(e => if (e.ts_ms > mx) mx = e.ts_ms)
    lastSeen.update(mx)
    // single live timer per key: replace whatever was pending
    getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
    getHandle.registerTimer(mx + gapMs)
    Iterator.empty
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[TFire] = {
    val ls = lastSeen.get()
    Iterator.single(TFire(key, ls, expiredTimerInfo.getExpiryTimeInMs()))
  }
}

object StateV2Timers {

  private val MID = "2024-01-16"
  val GAP_MS: Long = 24L * 3600 * 1000 // one day of event-time silence

  /** Run the quiet-user stream over the events feed split into two
    * [[LiveFeed]] drops; see [[QuietUserProcessor]]. */
  val quietUsers: QueryDef = QueryDef(
    "stream_tws_event_timers",
    (s0, dir) => {
      val feed = LiveFeed(s0, "graft-tws-timer")
      val s = feed.session
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val ev = Tables.events(s, dir).select(
        col("user_id"),
        col("ts").cast("timestamp").as("ts"))
      val mid = lit(MID).cast("timestamp")
      implicit val evtEnc: Encoder[TEvt] = Encoders.product[TEvt]
      implicit val fireEnc: Encoder[TFire] = Encoders.product[TFire]
      val fired = feed.stream(ev.filter(col("ts") < mid), ev.filter(col("ts") >= mid))
        .withWatermark("ts", "0 seconds")
        .selectExpr("user_id", "unix_millis(ts) AS ts_ms")
        .as[TEvt]
        .groupByKey(_.user_id)(Encoders.scalaLong)
        .transformWithState(new QuietUserProcessor(GAP_MS),
          TimeMode.EventTime(), OutputMode.Append())
      feed.toParquet(fired).orderBy("user_id", "fired_at_ms")
        .select("user_id", "last_seen_ms", "fired_at_ms")
    },
    Some(s"""
      WITH last AS (
        SELECT user_id, MAX(epoch_ms(ts)) AS last_seen_ms
        FROM events GROUP BY user_id),
      horizon AS (SELECT MAX(epoch_ms(ts)) AS max_ms FROM events)
      SELECT user_id, last_seen_ms, last_seen_ms + $GAP_MS AS fired_at_ms
      FROM last, horizon
      WHERE last_seen_ms + $GAP_MS <= max_ms
      ORDER BY user_id, fired_at_ms
    """.stripMargin.trim))

  val defs: Seq[QueryDef] = Seq(quietUsers)
}
