package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.SparkSpec

/** The dedup surfaces pin exactly the frames their probes read: the
  * shingle table, the minhash signatures, the near-dup pairs and the
  * component labels — and nothing the label propagation loop
  * checkpointed on the way, which the between-query sweep must reclaim.
  */
class PinnedSurfaceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Storage ids behind a checkpointed frame. */
  private def storageIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  test("shingle, sketch, pair and label surfaces pin only their own frames") {
    val s = spark.newSession() // fresh session ⇒ fresh surfaces
    val sc = s.sparkContext
    graft.PinnedStorage.sweep(s, blocking = true)
    val before = sc.getPersistentRDDs.keySet
    val sh = Dedup.shingleSurface(s, dir)
    val (_, mh) = Dedup.sketchSurface(s, dir)
    val pairs = Dedup.pairsSurface(s, dir)
    val (_, labels) = Dedup.pairSurface(s, dir)
    val surfaces = Seq(sh, mh, pairs, labels).map(storageIds)
    assert(surfaces.forall(_.size == 1) && surfaces.flatten.toSet.size == 4)
    val loopIds = sc.getPersistentRDDs.keySet.diff(before).diff(surfaces.flatten.toSet)
    assert(loopIds.nonEmpty, "the label loop left no checkpoint — test is vacuous")
    graft.PinnedStorage.sweep(s, blocking = true)
    assert(sc.getPersistentRDDs.keySet.diff(before) == surfaces.flatten.toSet)
    assert(labels.count() == graft.Tables.documents(s, dir).count())
  }
}
