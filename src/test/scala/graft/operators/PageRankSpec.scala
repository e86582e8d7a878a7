package graft.operators

import graft.SparkSpec

/** graph_pagerank_bipartite: the three unrolled supersteps reproduce a
  * pure-Scala integer PageRank bit-for-bit on a handcrafted star graph,
  * and rank mass is conserved up to per-node truncation.
  */
class PageRankSpec extends SparkSpec {

  /** Same scaled-integer recurrence, computed directly. */
  private def refRanks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = edges ++ edges.map { case (a, b) => (b, a) }
    val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val contrib = r.map { case (n, v) => n -> v / deg(n) }
      r = und.groupBy(_._2).map { case (dst, es) =>
        dst -> (150000L + (85L * es.map(e => contrib(e._1)).sum) / 100L)
      }
    }
    r
  }

  test("three supersteps match the scalar reference exactly; mass conserved") {
    import spark.implicits._
    // supplier 1 – parts {1,2,3}; supplier 2 – part 1
    val pairs = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L))
    val dir = graft.TmpDirs.create("graft-pagerank")
    pairs.toDF("l_suppkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    val rows = GraphIterative.pagerank.run(spark, dir).collect()
    val got = rows.map(r => r.getAs[Long]("node_id") -> r.getAs[Long]("rank")).toMap

    val want = refRanks(pairs.map { case (sk, pk) => (sk * 2, pk * 2 + 1) }, 3)
    assert(got == want, s"ranks diverge: got $got want $want")

    // damping conserves mass up to the two integer truncations per node
    val mass = got.values.sum
    val n = got.size
    assert(mass <= n * 1000000L && mass > n * 1000000L - 4L * n,
      s"mass not conserved: $mass for $n nodes")

    // star center (supplier 1, node 2) must dominate
    val top = rows.head
    assert(top.getAs[Long]("node_id") == 2L && top.getAs[String]("node_type") == "supplier")
  }
}
