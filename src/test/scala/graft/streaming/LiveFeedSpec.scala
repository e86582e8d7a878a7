package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The live queries' batch-order guarantee: the feed writes its drops
  * concurrently, so the order the writes finish in is arbitrary, and
  * only the pinned modification times make drop k micro-batch k. Drop 0
  * is made the slowest write here (each of its rows sleeps), so without
  * the pin it would be the newest file and replay last.
  */
class LiveFeedSpec extends SparkSpec {

  test("micro-batch k holds exactly drop k's rows, whichever drop write finished first") {
    val feed = LiveFeed(spark, "graft-livefeed-spec")
    val s = feed.session
    val slow = udf { (id: Long) => Thread.sleep(300); id }
    val drops = Seq(
      s.range(0, 3).select(slow(col("id")).as("id")),
      s.range(10, 13).toDF(),
      s.range(20, 23).toDF())
    val batches = new ConcurrentHashMap[Long, Seq[Long]]()
    feed.run(feed.stream(drops: _*).writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batches.put(id, batch.collect().map((r: Row) => r.getLong(0)).toSeq.sorted)
        ()
      })
    assert(batches.size == 3)
    assert(batches.get(0L) == Seq(0L, 1L, 2L))
    assert(batches.get(1L) == Seq(10L, 11L, 12L))
    assert(batches.get(2L) == Seq(20L, 21L, 22L))
  }
}
