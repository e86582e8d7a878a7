package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared candidate-scoped verify step ([[Dedup.verifyJaccard]]):
  * over a candidate set it returns exactly the exact-Jaccard pairs
  * ([[Dedup.jaccardPairsOf]]) restricted to those candidates, whichever
  * orientation and outer join the caller wraps around it.
  */
class VerifyJaccardSpec extends SparkSpec {

  import spark.implicits._

  // 1, 2 and 10 are near-copies; 4 shares two shingles with 1, 2 and 10;
  // 3 and 20 share no shingle with anything. 10 and 20 are the batch.
  private def docs: DataFrame = Seq(
    1L -> "a b c d e f g",
    2L -> "a b c d e f h",
    3L -> "x y z w v",
    4L -> "a b c d x y",
    10L -> "a b c d e f g",
    20L -> "p q r s").toDF("doc_id", "text")

  private def exactPairs: Map[(Long, Long), Double] =
    Dedup.jaccardPairsOf(docs).as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap

  test("corpus candidates: every candidate keeps a row, one sharing no shingle reads 0") {
    val cands = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 4L)).toDF("ia", "ib")
    val got = Dedup.verifyJaccard(Dedup.shingles(docs), cands, "ia", "ib", cands,
        broadcast(_), Dedup.checkpointed)(cands.join(_, Seq("ia", "ib"), "left"))(j =>
        Seq(col("ia"), col("ib"), j.as("jaccard")))
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => (a, b) -> j }.toMap
    assert(got == Map((1L, 2L) -> 4.0 / 6, (1L, 3L) -> 0.0,
      (1L, 4L) -> 2.0 / 7, (2L, 4L) -> 2.0 / 7))
    assert(got.filter(_._2 >= 0.5) == exactPairs.filter { case (k, _) => got.contains(k) })
  }

  test("batch-vs-corpus candidates come back oriented batch doc first") {
    val cands = Seq((10L, 1L), (10L, 2L), (10L, 4L), (20L, 3L)).toDF("new_id", "old_id")
    val key = cands.select(least(col("new_id"), col("old_id")).as("ia"),
      greatest(col("new_id"), col("old_id")).as("ib"))
    val batchIds = Seq(10L, 20L).toDF("did")
    val got = Dedup.verifyJaccard(Dedup.shingles(docs), cands, "new_id", "old_id", key,
        broadcast(_), Dedup.checkpointed)(
        _.join(broadcast(batchIds), col("ia") === col("did"), "left")
          .select(
            when(col("did").isNotNull, col("ia")).otherwise(col("ib")).as("new_id"),
            when(col("did").isNotNull, col("ib")).otherwise(col("ia")).as("old_id"),
            col("inter")))(j => Seq(col("new_id"), col("old_id"), j.as("jaccard")))
      .filter(col("jaccard") >= 0.5)
      .as[(Long, Long, Double)].collect().map { case (n, o, j) => (n, o) -> j }.toMap
    val candKeys = Set((1L, 10L), (2L, 10L), (4L, 10L), (3L, 20L))
    val want = exactPairs.collect { case ((a, b), j) if candKeys((a, b)) => (b, a) -> j }
    assert(want.keySet == Set((10L, 1L), (10L, 2L)), "fixture lost its near-dup pairs")
    assert(got == want)
  }
}
