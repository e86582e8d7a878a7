package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

class EventStreamSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked hourly aggregation finalizes windows and drops late data") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.hourlyAgg(input.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("append").start()
    try {
      input.addData(
        Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:55:00"), 1, "click", 2.0))
      q.processAllAvailable()
      // advance event time far past 10:00-11:00 + 30min watermark
      input.addData(Ev(3, ts("2024-01-01 13:00:00"), 1, "view", 1.0))
      q.processAllAvailable()
      // now the 10:00 window is final
      input.addData(Ev(9, ts("2024-01-01 10:10:00"), 1, "click", 99.0)) // LATE: dropped
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .select("window_start", "event_type", "n").as[(Timestamp, String, Long)].collect().toSet
      assert(rows.contains((ts("2024-01-01 10:00:00"), "click", 2L)))
      // the late event did not resurrect or alter the finalized window
      assert(!rows.exists { case (w, t, n) => w == ts("2024-01-01 10:00:00") && t == "click" && n != 2L })
    } finally q.stop()
  }

  test("streaming dedup by event_id within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.dedupByEventId(input.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0), // same batch dup
        Ev(2, ts("2024-01-01 10:01:00"), 1, "view", 1.0))
      q.processAllAvailable()
      input.addData(Ev(1, ts("2024-01-01 10:02:00"), 1, "click", 1.0)) // cross-batch dup
      q.processAllAvailable()
      assert(spark.table("dedup").select("event_id").as[Long].collect().sorted.toList
        == List(1L, 2L))
    } finally q.stop()
  }

  test("metrics listener observes batches (K8/A1/A4/A7 replacement)") {
    implicit val sqlCtx = spark.sqlContext
    val listener = new GraftMetricsListener
    spark.streams.addListener(listener)
    val input = MemoryStream[Ev]
    val q = input.toDF().groupBy("event_type").count()
      .writeStream.format("memory").queryName("metered").outputMode("complete").start()
    try {
      input.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:00:30"), 2, "view", 2.0))
      q.processAllAvailable()
      // listener events are delivered asynchronously and can lag (or be
      // dropped) under a full parallel suite run — keep nudging fresh
      // batches so a new progress event is always in flight. Read the
      // whole condition under the listener's lock: the buffers are not
      // individually volatile, so polling any single field and then
      // asserting the others races event publication.
      def ready(): Boolean = listener.synchronized {
        listener.totalInputRows >= 2 && listener.batchDurationsMs.nonEmpty &&
          listener.progressEvents.exists(_.startsWith("batch:"))
      }
      val deadline = System.currentTimeMillis() + 30000
      var nudge = 3
      while (!ready() && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        if (!ready() && nudge > 0) {
          nudge -= 1
          input.addData(Ev(100L + nudge, ts("2024-01-01 10:01:00"), 3, "click", 1.0))
          q.processAllAvailable()
        }
      }
      assert(ready(), s"listener never observed a complete batch: rows=" +
        s"${listener.totalInputRows} events=${listener.synchronized(listener.progressEvents.toList)}")
    } finally { q.stop(); spark.streams.removeListener(listener) }
  }

  /** File-stream over a staged events parquet with ts normalized to a
    * watermarkable TIMESTAMP (session tz = UTC), mirroring
    * Tables.loadEvents' ADAPTIVE handling: the driver's testdata has
    * shipped ts both as nanos-as-long and as a µs timestamp across
    * rounds, and a hardcoded `ts LONG, div 1000` read turns µs files
    * into 1970-era garbage. A one-file batch read picks the variant.
    */
  private def eventsFileStream(stage: String): org.apache.spark.sql.DataFrame = {
    val tsIsLong = spark.read.parquet(stage).schema("ts").dataType ==
      org.apache.spark.sql.types.LongType
    val tsDdl = if (tsIsLong) "ts LONG" else "ts TIMESTAMP"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      s"event_id LONG, $tsDdl, user_id LONG, event_type STRING, value DOUBLE, props STRING")
    val raw = spark.readStream.schema(schema).parquet(stage)
    if (tsIsLong) raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }

  test("streaming hourly agg over the real events table matches the batch analog") {
    val dir = "/root/testdata/sf0.001"
    // the file-stream source wants a directory: stage the single parquet
    val stage = java.nio.file.Paths.get(graft.TmpDirs.create("graft-eventsdir"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val stream = eventsFileStream(stage.toString)
    val q = EventStream.hourlyAgg(stream)
      .writeStream.format("memory").queryName("hourly_real")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streaming = spark.table("hourly_real")
      .select(expr("CAST(window_start AS TIMESTAMP_NTZ)").as("window_start"),
        col("event_type"), col("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val batch = graft.operators.EventOps.defs.find(_.name == "stream_hourly_windowed_agg").get
      .run(spark, dir)
      .select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streaming == batch)
    assert(batch.nonEmpty)
  }

  test("streaming session_window sessions match the batch lag/cumsum sessionization") {
    val dir = "/root/testdata/sf0.001"
    val stage = java.nio.file.Paths.get(graft.TmpDirs.create("graft-eventsdir-sess"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val stream = eventsFileStream(stage.toString)
    val q = EventStream.sessionize(stream)
      .writeStream.format("memory").queryName("sess_real")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streaming = spark.table("sess_real")
      .select(col("user_id"),
        expr("CAST(session_start AS TIMESTAMP_NTZ)").as("session_start"), col("n_events"))
      .as[(Long, Timestamp, Long)].collect().toSet
    val batch = graft.operators.EventOps.defs.find(_.name == "stream_sessionization_30m").get
      .run(spark, dir)
      .select("user_id", "session_start", "n_events")
      .as[(Long, Timestamp, Long)].collect().toSet
    assert(streaming == batch)
    assert(batch.nonEmpty)
  }

  test("stream-stream interval join pairs errors with preceding clicks, state bounded") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.clicksBeforeErrors(input.toDF())
      .writeStream.format("memory").queryName("ssjoin").outputMode("append").start()
    try {
      input.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:30:00"), 1, "error", 1.0),   // pairs with click 1
        Ev(3, ts("2024-01-01 09:00:00"), 2, "click", 1.0),
        Ev(4, ts("2024-01-01 10:30:00"), 2, "error", 1.0))   // click 3 is 90min old: no pair
      q.processAllAvailable()
      // advance both watermarks well past the first hour, then emit an
      // error whose only candidate click is watermark-evicted state
      input.addData(Ev(5, ts("2024-01-01 14:00:00"), 3, "click", 1.0))
      q.processAllAvailable()
      input.addData(Ev(6, ts("2024-01-01 14:10:00"), 3, "error", 1.0))
      q.processAllAvailable()
      val pairs = spark.table("ssjoin")
        .select("error_id", "click_id").as[(Long, Long)].collect().toSet
      assert(pairs.contains((2L, 1L)))
      assert(!pairs.exists(_._1 == 4L))
      assert(pairs.contains((6L, 5L)))
    } finally q.stop()
  }

  test("interval join gives identical pairs in batch mode on the real events table") {
    val dir = "/root/testdata/sf0.001"
    val ev = graft.Tables.events(spark, dir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val viaOperator = EventStream.clicksBeforeErrors(ev)
      .select("error_id", "click_id").as[(Long, Long)].collect().toSet
    ev.createOrReplaceTempView("ev_batch")
    val direct = spark.sql("""
      SELECT e.event_id AS error_id, c.event_id AS click_id
      FROM (SELECT * FROM ev_batch WHERE event_type = 'error') e
      JOIN (SELECT * FROM ev_batch WHERE event_type = 'click') c
        ON e.user_id = c.user_id
       AND c.ts BETWEEN e.ts - INTERVAL 1 HOUR AND e.ts
    """).as[(Long, Long)].collect().toSet
    assert(viaOperator == direct)
    assert(direct.nonEmpty)
  }

  test("A3 lag policy: growth restart, shrink, stall restart") {
    val p = new LagPolicy(growThreshold = 200, stallPolls = 3)
    assert(p.observe(1000, 900) == p.Ok)        // init_lag = 100
    assert(p.observe(1200, 1000) == p.Ok)       // lag 200 <= 100+200
    assert(p.observe(1500, 1100) == p.Restart)  // lag 400 > 300 → restart
    // after restart init_lag re-captured at 400; catching up shrinks it
    assert(p.observe(1600, 1550) == p.Ok)       // lag 50 < 400-200 → shrink to 50
    assert(p.currentInitLag.contains(50L))
    // stall: same processed seq for 3 polls
    assert(p.observe(1700, 1550) == p.Ok)
    assert(p.observe(1710, 1550) == p.Ok)
    assert(p.observe(1720, 1550) == p.Restart)
  }

  test("stream-static enrichment matches the batch join, unmatched users kept") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val input = MemoryStream[Ev]
    val q = EventStream.enrichWithSegments(input.toDF(), dim)
      .writeStream.format("memory").queryName("enrich").outputMode("append").start()
    try {
      input.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:01:00"), 2, "view", 2.0),
        Ev(3, ts("2024-01-01 10:02:00"), 99, "click", 3.0)) // no dim row
      q.processAllAvailable()
      val rows = spark.table("enrich")
        .select("event_id", "c_mktsegment").as[(Long, Option[String])].collect().toMap
      assert(rows == Map(1L -> Some("BUILDING"), 2L -> Some("MACHINERY"), 3L -> None))
    } finally q.stop()
  }
}
