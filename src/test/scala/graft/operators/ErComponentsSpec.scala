package graft.operators

import graft.SparkSpec

/** er_customer_components: a V-shaped match graph (1−3, 2−3, no 1−2)
  * where greedy earliest-neighbor retains one duplicate entity that
  * transitive components collapse.
  */
class ErComponentsSpec extends SparkSpec {

  test("greedy over-retains exactly the non-min chain heads components collapse") {
    import spark.implicits._
    val cust = Seq(
      (1L, "Customer#000000100", 1, 0.0, "A"),  // matches 3 (dist 1)
      (2L, "Customer#000000111", 1, 0.0, "A"),  // matches 3 (dist 1), not 1 (dist 2)
      (3L, "Customer#000000101", 1, 0.0, "A"),
      (9L, "Customer#000000999", 2, 0.0, "A"))  // unmatched, absent from census
    val dir = graft.TmpDirs.create("graft-ercomp")
    cust.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val rows = EntityResolution.customerComponents.run(spark, dir).collect()
    assert(rows.length == 1, s"only nation 1 has matches: ${rows.mkString(";")}")
    val r = rows(0)
    assert(r.getAs[Long]("nation") == 1L)
    assert(r.getAs[Long]("n_matched") == 3L)
    assert(r.getAs[Long]("n_components") == 1L)
    assert(r.getAs[Long]("max_component_size") == 3L)
    // greedy keeps 1 (component min) AND 2 (its only neighbor 3 is larger)
    assert(r.getAs[Long]("greedy_kept") == 2L)
    assert(r.getAs[Long]("over_retained") == 1L,
      "the transitive pass must be worth exactly one record here")
  }
}
