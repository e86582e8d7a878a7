package graft.operators

import graft.SparkSpec

/** audit_constraints: a clean corpus yields all-zero violations, and
  * injected orphans / duplicate keys / out-of-range values are each
  * counted exactly by their own check (and only theirs).
  */
class DataQualitySpec extends SparkSpec {

  private def audit(dir: String): Map[String, (Long, Long)] =
    DataQuality.constraints.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("the driver corpus passes every check with zero violations") {
    val rows = audit("/root/testdata/sf0.001")
    assert(rows.size == 5)
    assert(rows.values.forall(_._2 == 0L), s"clean corpus flagged: $rows")
  }

  test("injected violations are counted by exactly their own check") {
    import spark.implicits._
    import java.sql.Timestamp
    val dir = graft.TmpDirs.create("graft-audit")

    // 3 customers; 4 orders, ONE with an unknown customer and ONE dated 1985
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("c_custkey", "c_name")
      .write.parquet(s"$dir/customer.parquet")
    Seq(
      (10L, 1L, Timestamp.valueOf("1995-03-01 00:00:00")),
      (11L, 2L, Timestamp.valueOf("1996-07-01 00:00:00")),
      (12L, 99L, Timestamp.valueOf("1997-01-01 00:00:00")), // orphan custkey
      (13L, 3L, Timestamp.valueOf("1985-01-01 00:00:00")))  // out of range
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.parquet(s"$dir/orders.parquet")
    // 4 lineitems: ONE orphan orderkey, ONE non-positive quantity
    Seq((10L, 5.0), (11L, 3.0), (77L, 2.0), (13L, 0.0))
      .toDF("l_orderkey", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    // 5 events with ONE event_id appearing three times (= 2 extra copies)
    Seq((100L, "click"), (100L, "view"), (100L, "error"), (101L, "click"), (102L, "view"))
      .toDF("event_id", "event_type")
      .withColumn("ts", org.apache.spark.sql.functions.lit(Timestamp.valueOf("2024-01-01 00:00:00")))
      .write.parquet(s"$dir/events.parquet")

    val rows = audit(dir)
    assert(rows == Map(
      "lineitem_order_fk" -> ((4L, 1L)),
      "orders_customer_fk" -> ((4L, 1L)),
      "event_id_unique" -> ((5L, 2L)),
      "lineitem_qty_positive" -> ((4L, 1L)),
      "orders_date_in_range" -> ((4L, 1L))), s"got $rows")
  }
}
