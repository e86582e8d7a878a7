package graft.operators

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}

import graft.{SparkSpec, TmpDirs}

/** Pins the event-time-timer semantics the oracle encodes: input rows
  * are processed before timer evaluation (a user active in the batch
  * re-registers and the stale timer never fires), and AvailableNow runs
  * a final watermark flush — so the fired set is exactly
  * {user : last_seen + GAP ≤ max event time}, independent of the
  * micro-batch partitioning. The second test re-runs the same stream
  * cut into THREE batches at different boundaries and asserts the
  * output rows are identical.
  */
class StateV2TimersSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01" // sf0.001 has no quiet tail

  test("fired set equals the quiet-tail formula") {
    val rows = StateV2Timers.quietUsers.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ev = graft.Tables.events(spark, dir)
      .selectExpr("user_id", "unix_millis(CAST(ts AS TIMESTAMP)) AS ms")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val maxMs = ev.map(_._2).max
    val expected = ev.groupBy(_._1).view.mapValues(_.map(_._2).max).toSeq
      .collect { case (u, last) if last + StateV2Timers.GAP_MS <= maxMs =>
        (u, last, last + StateV2Timers.GAP_MS) }
      .sortBy(t => (t._1, t._3))
    assert(rows == expected)
  }

  test("output is independent of the micro-batch partitioning (3 batches)") {
    val declared = StateV2Timers.quietUsers.run(spark, dir).collect()
      .map(_.toSeq).toSeq
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ev = graft.Tables.events(s, dir)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
    val base = TmpDirs.create("graft-tws-3b")
    val cuts = Seq("2024-01-11", "2024-01-21")
    ev.filter(col("ts") < lit(cuts(0)).cast("timestamp"))
      .coalesce(1).write.parquet(s"$base/in/d0")
    ev.filter(col("ts") >= lit(cuts(0)).cast("timestamp") &&
        col("ts") < lit(cuts(1)).cast("timestamp"))
      .coalesce(1).write.parquet(s"$base/in/d1")
    ev.filter(col("ts") >= lit(cuts(1)).cast("timestamp"))
      .coalesce(1).write.parquet(s"$base/in/d2")
    for ((d, i) <- Seq("d0", "d1", "d2").zipWithIndex) {
      val t = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - (180000L - i * 60000L))
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$base/in/$d"))
        .forEach(p => java.nio.file.Files.setLastModifiedTime(p, t))
    }
    implicit val evtEnc = Encoders.product[TEvt]
    implicit val fireEnc = Encoders.product[TFire]
    val fired = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
      .withWatermark("ts", "0 seconds")
      .selectExpr("user_id", "unix_millis(ts) AS ts_ms")
      .as[TEvt]
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new QuietUserProcessor(StateV2Timers.GAP_MS),
        TimeMode.EventTime(), OutputMode.Append())
    fired.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"localfs://$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", s"$base/out")
      .start().awaitTermination()
    val replay = s.read.parquet(s"$base/out")
      .orderBy("user_id", "fired_at_ms")
      .select("user_id", "last_seen_ms", "fired_at_ms")
      .collect().map(_.toSeq).toSeq
    assert(replay == declared)
  }
}
