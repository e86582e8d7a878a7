package graft.streaming

import org.apache.spark.sql.{Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, TmpDirs}

/** K8's in-query counter vehicle, exercised for real: `observe()` plants
  * a zero-shuffle metrics collector inside the plan (CollectMetrics —
  * accumulator-backed, no extra pass over the data), the batch form
  * returns the values through `Observation`, and the streaming form
  * surfaces them per micro-batch via `StreamingQueryProgress
  * .observedMetrics` into [[graft.streaming.GraftMetricsListener]] — the
  * reference's Prometheus `npm_update_counter`/summary registry
  * (changes_consumer.py:38-42) as engine-native metrics instead of a
  * side-effecting client.
  */
class ObservationSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("batch observe(): counters ride the query, no second scan") {
    val obs = Observation("catalog_counters")
    val ev = graft.Tables.events(spark, dir)
    val observed = ev.observe(obs,
      count(lit(1)).as("n_rows"),
      count(when(col("event_type") === "purchase", 1)).as("n_purchases"),
      sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value"))
    val nOut = observed.filter(col("event_type") =!= "view").count()
    assert(nOut > 0)
    val m = obs.get
    // the observed metrics cover the FULL scan, independent of the
    // downstream filter — the lineage-conservation property a pipeline
    // counter needs (processed vs emitted are different numbers)
    val direct = ev.agg(count(lit(1)),
      count(when(col("event_type") === "purchase", 1)),
      sum(col("value").cast("decimal(12,2)")).cast("double")).head()
    assert(m("n_rows") == direct.getLong(0))
    assert(m("n_purchases") == direct.getLong(1))
    assert(m("total_value") == direct.getDouble(2))
  }

  test("streaming observe(): per-batch counters reach the listener") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val listener = new GraftMetricsListener
    s.streams.addListener(listener)
    try {
      val ev = graft.Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          col("ts").cast("timestamp").as("ts"))
      val base = TmpDirs.create("graft-obs")
      val mid = lit("2024-01-16").cast("timestamp")
      ev.filter(col("ts") < mid).coalesce(1).write.parquet(s"$base/in/d0")
      ev.filter(col("ts") >= mid).coalesce(1).write.parquet(s"$base/in/d1")
      s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
        .observe("stage_counters",
          count(lit(1)).as("n_rows"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchases"))
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out")
        .start().awaitTermination()
      // poll briefly: progress events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      def counters = listener.observedMetrics
        .filter(_._1 == "stage_counters").map(_._2)
      while (counters.size < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(counters.size >= 2, s"per-batch metrics missing: $counters")
      val total = counters.map(_("n_rows").asInstanceOf[Long]).sum
      val purch = counters.map(_("n_purchases").asInstanceOf[Long]).sum
      val expect = ev.agg(count(lit(1)),
        count(when(col("event_type") === "purchase", 1))).head()
      assert(total == expect.getLong(0))
      assert(purch == expect.getLong(1))
    } finally s.streams.removeListener(listener)
  }
}
