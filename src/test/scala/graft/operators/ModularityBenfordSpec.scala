package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** graph_brand_modularity and audit_benford_first_digit on constructed
  * inputs with closed-form expectations.
  */
class ModularityBenfordSpec extends SparkSpec {

  private def tmp(p: String) = graft.TmpDirs.create(s"graft-$p")

  private def writeParts(dir: String, brandOf: Long => String, n: Long): Unit = {
    import spark.implicits._
    (1L to n).map(pk => (pk, s"part$pk", brandOf(pk), "T", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
  }

  test("modularity: two pure brand cliques score exactly 1/2; cross wiring goes negative") {
    import spark.implicits._
    // orders o1..o3 contain brand-A parts {1,2,3}; o4..o6 brand-B {4,5,6}
    val pure = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (4L, 4L), (4L, 5L), (4L, 6L))
    val dir = tmp("mod")
    pure.map { case (ok, pk) => (ok, pk, 1L) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    writeParts(dir, pk => if (pk <= 3) "A" else "B", 6)
    val r = GraphIterative.modularity.run(spark, dir).collect()(0)
    // each clique: 3 edges within; m=6, e_A=e_B=3, a_A=a_B=6
    // Q = 1e6*(4*6*6 - (36+36)) DIV (4*36) = 1e6*72/144 = 500000
    assert(r.getAs[Long]("n_edges") == 6L)
    assert(r.getAs[Long]("within_edges") == 6L)
    assert(r.getAs[Long]("q_ppm") == 500000L, s"$r")

    // same graph, brands swapped so every edge crosses communities
    val dir2 = tmp("modx")
    pure.map { case (ok, pk) => (ok, pk, 1L) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir2/lineitem.parquet")
    writeParts(dir2, pk => if (pk % 2 == 0) "A" else "B", 6)
    val r2 = GraphIterative.modularity.run(spark, dir2).collect()(0)
    assert(r2.getAs[Long]("within_edges") < 6L)
    assert(r2.getAs[Long]("q_ppm") < 0L, s"anti-community wiring must go negative: $r2")
  }

  test("benford: an all-digit-1 column deviates by exactly 1 - log10(2)") {
    import spark.implicits._
    val orders = (1 to 50).map { i =>
      (i.toLong, 1L, "O", 100.0 + i, Timestamp.valueOf("2024-01-01 00:00:00"), "P")
    }
    val dir = tmp("benford")
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = DataQuality.benford.run(spark, dir).collect()
      .map(r => r.getAs[Long]("digit") -> r).toMap
    assert(rows.size == 9, "all nine digits present even with zero observations")
    assert(rows(1L).getAs[Long]("observed") == 50L)
    assert(rows(1L).getAs[Long]("observed_ppm") == 1000000L)
    assert(rows(1L).getAs[Long]("abs_dev_ppm") == 1000000L - 301030L)
    assert(rows(2L).getAs[Long]("observed") == 0L)
    assert(rows(2L).getAs[Long]("abs_dev_ppm") == 176091L)
    assert(rows.values.forall(_.getAs[Long]("max_dev_ppm") == 698970L))
  }
}
