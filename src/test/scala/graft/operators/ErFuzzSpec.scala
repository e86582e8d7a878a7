package graft.operators

import scala.util.Random

import graft.SparkSpec

/** er_customer_dedup fuzzed against a brute-force scalar reference on
  * random near-duplicate name populations.
  */
class ErFuzzSpec extends SparkSpec {

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("greedy survivorship matches brute force on random name clusters (fuzz)") {
    import spark.implicits._
    val rnd = new Random(424)
    for (round <- 1 to 3) {
      // names cluster in the last two digits; nations split the blocks
      val cust = (1L to 60L).map { k =>
        val nation = 1 + rnd.nextInt(3)
        val stem = 100 + rnd.nextInt(3) * 10 + rnd.nextInt(4)
        (k, f"Customer#000000$stem%03d", nation, 0.0, "A")
      }
      val dir = graft.TmpDirs.create(s"graft-erf$round")
      cust.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      // brute force with the same blocking
      val blocked = cust.map { case (k, n, nat, _, _) => (k, n, nat, n.take(16)) }
      val pairs = for {
        a <- blocked; b <- blocked
        if a._3 == b._3 && a._4 == b._4 && a._1 < b._1 && lev(a._2, b._2) <= 1
      } yield (a._1, b._1, b._3)
      val expected = blocked.groupBy(_._3).map { case (nation, members) =>
        val natPairs = pairs.filter(_._3 == nation)
        val dropped = natPairs.map(_._2).toSet
        nation.toLong -> (members.size.toLong, natPairs.size.toLong,
          dropped.size.toLong, members.size.toLong - dropped.size)
      }
      val got = EntityResolution.customerDedup.run(spark, dir).collect()
        .map(r => r.getAs[Long]("nation") ->
          (r.getAs[Long]("n_customers"), r.getAs[Long]("n_match_pairs"),
            r.getAs[Long]("n_dups_dropped"), r.getAs[Long]("n_survivors"))).toMap
      assert(got == expected, s"round $round: $got vs $expected")
    }
  }
}
