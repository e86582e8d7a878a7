package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Fuzzes the two graph operators against independent scalar references
  * on random bipartite graphs: the PageRank recurrence must match the
  * integer formula exactly on every node, and BFS hop labels must equal
  * true shortest-path distances (≤ 3) from the seed set.
  */
class GraphPropertySpec extends SparkSpec {

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

  /** Scalar BFS: hop = shortest distance from the seed set, capped at 3. */
  private def refHops(edges: Seq[(Long, Long)], seeds: Set[Long]): Map[Long, Int] = {
    val und = (edges ++ edges.map { case (a, b) => (b, a) }).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    var hops = seeds.map(_ -> 0).toMap
    var frontier = seeds
    for (h <- 1 to 3) {
      frontier = frontier.flatMap(n => und.getOrElse(n, Set.empty)) -- hops.keySet
      hops ++= frontier.map(_ -> h)
    }
    hops
  }

  private val graphGen: Gen[(List[(Long, Long)], List[(Long, Int)])] = for {
    nSupp <- Gen.choose(2, 6)
    nPart <- Gen.choose(2, 6)
    nEdge <- Gen.choose(1, 12)
    edges <- Gen.listOfN(nEdge, for {
      s <- Gen.choose(1, nSupp)
      p <- Gen.choose(1, nPart)
    } yield (s.toLong, p.toLong))
    nations <- Gen.listOfN(nSupp, Gen.choose(1, 3))
  } yield (edges.distinct, nations.zipWithIndex.map { case (n, i) => ((i + 1).toLong, n) }
    .map { case (sk, n) => (sk, n) })

  test("pagerank and BFS match scalar references on random graphs") {
    import spark.implicits._
    var seed = Seed(11L)
    (1 to 6).foreach { _ =>
      val (pairs, suppliers) = graphGen.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      if (pairs.nonEmpty && suppliers.exists(_._2 == 1)) {
        val dir = graft.TmpDirs.create("graft-gfuzz")
        pairs.toDF("l_suppkey", "l_partkey")
          .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
        suppliers.map { case (sk, n) => (sk, s"s$sk", n, 0.0) }
          .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
          .write.mode("overwrite").parquet(s"$dir/supplier.parquet")

        val nodeEdges = pairs.map { case (sk, pk) => (sk * 2, pk * 2 + 1) }

        val gotRanks = GraphIterative.pagerank.run(spark, dir).collect()
          .map(r => r.getAs[Long]("node_id") -> r.getAs[Long]("rank")).toMap
        val wantRanks = refRanks(nodeEdges, 3)
        // the query emits top-20; on ≤12-node graphs that is every node
        assert(gotRanks == wantRanks, s"ranks: $gotRanks vs $wantRanks edges=$pairs")

        val seeds = suppliers.filter(_._2 == 1).map(_._1 * 2).toSet
        val want = refHops(nodeEdges, seeds).groupBy(_._2).view
          .mapValues { ns =>
            (ns.keys.count(_ % 2 == 0).toLong, ns.keys.count(_ % 2 == 1).toLong)
          }.toMap
        val got = GraphIterative.bfsReachability.run(spark, dir).collect()
          .map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
        assert(got == want, s"hops: $got vs $want edges=$pairs seeds=$seeds")
      }
    }
  }
}
