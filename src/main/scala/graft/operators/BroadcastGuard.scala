package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The ONE row-count broadcast guard. Spark honors an explicit
  * `broadcast()` hint regardless of size, so an unguarded hint on a
  * data-proportional frame hard-fails past ~8 GB / driver memory
  * instead of degrading. Every guarded site therefore materializes the
  * frame once, counts it, and broadcasts it only within its cap; past
  * the cap the hint drops and the join stays keyed (shuffled by the
  * join key, the bucketed layout at cluster scale) with identical
  * algebra.
  *
  * Cost: no separate checkpoint job. The checkpoint is LAZY and the
  * count is the action that materializes it (the [[TwoStageOrder]]
  * `withGlobalRank` pattern), so the frame's lineage runs exactly once
  * and every later consumer reads the checkpointed partitions.
  */
object BroadcastGuard {

  /** Node/edge-proportional slim rows (two LONGs, ~16 B framed):
    * pagerank contribs, BFS frontier/visited, triangle adjacency, the
    * link-prediction seed/candidate frames. */
  val SlimRowCap = 4000000L

  /** Dedup candidate pair/doc/span tables: one narrow row per
    * candidate, capped below [[SlimRowCap]] because each tail
    * broadcasts several derived frames of the same candidate set. */
  val PairRowCap = 1000000L

  /** Candidate-pruned (doc_id, shingle) rows: the shingle STRING makes
    * a row ~40–60 framed bytes, so 250k rows ≈ the byte budget of 1M
    * slim pairs. */
  val ShingleRowCap = 250000L

  /** A materialized frame, its row count and the join hint that count
    * decides. */
  final case class Guarded(df: DataFrame, rows: Long, hint: DataFrame => DataFrame)

  /** `broadcast` within the cap, identity past it. */
  def hint(rows: Long, cap: Long): DataFrame => DataFrame =
    if (rows <= cap) broadcast _ else identity[DataFrame] _

  /** Checkpoints `df` lazily, counts it (the count materializes the
    * checkpoint) and returns the checkpointed frame with its hint. */
  def apply(df: DataFrame, cap: Long): Guarded = {
    val m = df.localCheckpoint(false)
    val rows = m.count()
    Guarded(m, rows, hint(rows, cap))
  }
}
