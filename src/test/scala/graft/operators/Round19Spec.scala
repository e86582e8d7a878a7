package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-19 optimization gates.
  *
  * 1. The broadcast guard ([[BroadcastGuard]], r18 verdict item 2):
  *    within the cap the hop join is a BroadcastHashJoin of the
  *    node-sized side; PAST the cap the hint must drop so the join stays
  *    keyed (SortMergeJoin/ShuffledHashJoin) — an explicit broadcast()
  *    hint is honored by Spark regardless of size, so an unguarded hint
  *    hard-fails at scale instead of degrading. The guard evaluates its
  *    input exactly once, and consumers of the frame it returns read the
  *    materialized rows instead of recomputing them.
  */
class Round19Spec extends SparkSpec {
  import spark.implicits._

  test("node-broadcast guard: over-cap arm plans a KEYED join, under-cap broadcasts") {
    // auto-broadcast off: at test scale the planner would happily
    // auto-broadcast the 50-row frame, masking the thing under test —
    // whether the FORCED hint is present (under cap) or dropped (over
    // cap). At 100 TB the un-hinted side is over the auto threshold
    // too, so hint-absent ⇒ keyed is exactly the production behavior.
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val edges = (1 to 1000).map(i => (i.toLong, (i % 97).toLong))
        .toDF("src", "dst").localCheckpoint(true)
      // every evaluation of the guarded input bumps the accumulator once
      // per row (non-deterministic, so the optimizer cannot duplicate or
      // fold the call)
      val evals = spark.sparkContext.longAccumulator("guard-input-evals")
      val tick = udf { (x: Long) => evals.add(1L); x }.asNondeterministic()
      val input = (1 to 50).map(_.toLong).toDF("x").repartition(3)
        .select(tick(col("x")).as("node"))
      def hopPlan(frontier: DataFrame, bc: DataFrame => DataFrame): String = {
        val out = edges.join(bc(frontier), edges("src") === frontier("node"))
          .select(col("dst"))
        out.queryExecution.executedPlan.toString
      }
      val under = BroadcastGuard(input, cap = 50L)
      assert(under.rows == 50L)
      assert(evals.value == 50L, s"guard evaluated its input ${evals.value / 50.0} times")
      val underPlan = hopPlan(under.df, under.hint)
      assert(underPlan.contains("BroadcastHashJoin"),
        s"under-cap arm did not broadcast:\n$underPlan")
      // reuse: two more actions over the returned frame read the
      // checkpointed rows, never the input lineage
      assert(under.df.as[Long].collect().sorted.toSeq == (1L to 50L))
      assert(edges.join(under.hint(under.df), edges("src") === under.df("node")).count() == 50L)
      assert(evals.value == 50L, s"reusing the guarded frame recomputed its input")

      val over = BroadcastGuard(input, cap = 49L)
      val overPlan = hopPlan(over.df, over.hint)
      assert(!overPlan.contains("BroadcastHashJoin"),
        s"over-cap arm still broadcasts:\n$overPlan")
      assert(overPlan.contains("SortMergeJoin") || overPlan.contains("ShuffledHashJoin"),
        s"over-cap arm is not a keyed join:\n$overPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }
}
