package graft.streaming

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The incremental near-dup pipeline as a live streaming query: arrival
  * micro-batches probe a fixed corpus sketch index, pairs land in the
  * idempotent batch_id-partitioned sink, and a checkpointed RESTART
  * consumes only new arrivals — together proving the one-shot
  * `dedup_minhash_incremental_delta` semantics carry to the unbounded
  * form (the oracle gate separately hash-checks the file-stream variant
  * `stream_delta_dedup_minhash` against the same DuckDB SQL).
  */
class DeltaDedupStreamSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def docs = graft.Tables.documents(spark, dir)
  private val isNew = col("doc_id") % 10 === 0

  test("streamed delta batches reproduce the one-shot query; restart consumes only new arrivals") {
    // the persisted corpus index: sketch of the non-delta snapshot
    val (corpusSh, corpusBands) = Dedup.deltaSketch(docs.filter(!isNew))
    val delta = docs.filter(isNew).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(delta.size >= 4, "fixture too small to split across batches")
    val (wave1, wave2) = delta.splitAt(delta.size / 2)

    val base = graft.TmpDirs.create("graft-deltadedupstream")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]

    // run 1: only the first wave has arrived
    ms.addData(wave1)
    DeltaDedupStream.start(spark, ms.toDF().toDF("doc_id", "text"),
      corpusSh, corpusBands, s"$base/pairs", s"$base/ckpt").awaitTermination()
    val afterFirst = spark.read.parquet(s"$base/pairs")
    val firstPairs = afterFirst.select("new_id", "old_id").as[(Long, Long)].collect().toSet
    // partition columns read back type-inferred (int) — compare as long
    assert(afterFirst.select(max(col("batch_id").cast("long"))).head().getLong(0) == 0L)

    // run 2 from the SAME checkpoint: only wave 2 is processed
    ms.addData(wave2)
    DeltaDedupStream.start(spark, ms.toDF().toDF("doc_id", "text"),
      corpusSh, corpusBands, s"$base/pairs", s"$base/ckpt").awaitTermination()
    val streamed = spark.read.parquet(s"$base/pairs")
    // wave-1 pairs were not recomputed into a later batch partition
    assert(streamed.filter(col("batch_id") > 0)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
      .intersect(firstPairs).isEmpty)

    // run 3, nothing new: the sink is unchanged (exactly-once, no dupes)
    DeltaDedupStream.start(spark, ms.toDF().toDF("doc_id", "text"),
      corpusSh, corpusBands, s"$base/pairs", s"$base/ckpt").awaitTermination()
    val finalRows = spark.read.parquet(s"$base/pairs")
      .select("new_id", "old_id", "jaccard")
    assert(finalRows.groupBy("new_id", "old_id").count()
      .filter(col("count") > 1).count() == 0, "a pair was delivered twice")

    // union over micro-batches == the one-shot gate query
    val batchQuery = graft.SparkEntry.queries("dedup_minhash_incremental_delta")(spark, dir)
      .select("new_id", "old_id", "jaccard")
    assert(finalRows.collect().map(_.toSeq).toSet
      == batchQuery.collect().map(_.toSeq).toSet)
    assert(batchQuery.count() > 0, "fixture produced no near-dup pairs — vacuous")
  }
}
