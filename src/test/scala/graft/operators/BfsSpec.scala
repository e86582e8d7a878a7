package graft.operators

import graft.SparkSpec

/** graph_bfs_reachability: shortest-hop labels (no re-counting), isolated
  * seeds stay at hop 0, disconnected components never appear.
  */
class BfsSpec extends SparkSpec {

  test("level-synchronous BFS with anti-join dedup") {
    import spark.implicits._
    val dir = graft.TmpDirs.create("graft-bfs")
    // s1-p1, s2-p1, s2-p2, s3-p2, s3-p3; s4-p4 is a separate component
    Seq((1L, 1L), (2L, 1L), (2L, 2L), (3L, 2L), (3L, 3L), (4L, 4L))
      .toDF("l_suppkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // seeds = nation 1: s1, s2, and s9 (no edges at all)
    Seq((1L, "s1", 1, 0.0), (2L, "s2", 1, 0.0), (3L, "s3", 2, 0.0),
        (4L, "s4", 3, 0.0), (9L, "s9", 1, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")

    val got = GraphIterative.bfsReachability.run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      0L -> ((3L, 0L)),   // s1, s2, s9 (isolated seed still hop 0)
      1L -> ((0L, 2L)),   // p1, p2 — NOT re-counted at hop 3
      2L -> ((1L, 0L)),   // s3 via p2
      3L -> ((0L, 1L))),  // p3; s4/p4 unreachable
      s"BFS levels wrong: $got")
  }
}
