package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** Wave-2 round-10 operators: entity resolution, U-shaped attribution,
  * sketch join-size estimation, median/MAD anomaly — constructed cases
  * with hand-computed expectations.
  */
class Round10WaveTwoSpec extends SparkSpec {

  private def tmp(p: String) = graft.TmpDirs.create(s"graft-$p")

  test("er: planted near-dup names match within block; cross-block twins do not") {
    import spark.implicits._
    val cust = Seq(
      // block (1, 'Customer#0000001'): 11/12 differ by 1 edit, 13 differs by 2+
      (11L, "Customer#000000101", 1, 0.0, "A"),
      (12L, "Customer#000000102", 1, 0.0, "A"),
      (13L, "Customer#000000199", 1, 0.0, "A"),
      // same names, different nation -> different block, no match
      (21L, "Customer#000000101", 2, 0.0, "A"),
      // chain: 31-32 and 32-33 match, 31-33 also within 1 edit
      (31L, "Customer#000000301", 3, 0.0, "A"),
      (32L, "Customer#000000302", 3, 0.0, "A"),
      (33L, "Customer#000000303", 3, 0.0, "A"))
    val dir = tmp("er")
    cust.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val rows = EntityResolution.customerDedup.run(spark, dir).collect()
      .map(r => r.getAs[Long]("nation") -> r).toMap
    assert(rows(1L).getAs[Long]("n_match_pairs") == 1L, s"${rows(1L)}")
    assert(rows(1L).getAs[Long]("n_dups_dropped") == 1L)
    assert(rows(1L).getAs[Long]("n_survivors") == 2L)
    assert(rows(2L).getAs[Long]("n_match_pairs") == 0L,
      "same name in another nation must not pair")
    assert(rows(2L).getAs[Long]("n_survivors") == 1L)
    // chain: pairs (31,32),(31,33),(32,33); 32,33 both dup_of 31
    assert(rows(3L).getAs[Long]("n_match_pairs") == 3L)
    assert(rows(3L).getAs[Long]("n_dups_dropped") == 2L)
    assert(rows(3L).getAs[Long]("n_survivors") == 1L)
  }

  test("attribution: U-shape credits for n=1, n=2, n=4 touch paths") {
    import spark.implicits._
    def ev(id: Long, hhmm: String, user: Long, typ: String, k: Int) =
      (id, Timestamp.valueOf(s"2024-01-10 $hhmm:00"), user, typ, 1.0, s"""{"k": $k}""")
    val events = Seq(
      // user 1: one click (ch1) then purchase -> 1e6 to ch1
      ev(1, "08:00", 1, "click", 1), ev(2, "09:00", 1, "purchase", 0),
      // user 2: clicks ch2,ch3 then purchase -> 500k each
      ev(3, "08:00", 2, "click", 2), ev(4, "08:30", 2, "click", 3),
      ev(5, "09:00", 2, "purchase", 0),
      // user 3: 4 clicks ch0,ch1,ch2,ch3 -> 400k,100k,100k,400k
      ev(6, "07:00", 3, "click", 0), ev(7, "07:20", 3, "click", 1),
      ev(8, "07:40", 3, "click", 2), ev(9, "08:00", 3, "click", 3),
      ev(10, "09:00", 3, "purchase", 0),
      // stale click 25h before purchase: excluded
      ev(11, "09:00", 4, "click", 0))
    val stale = Seq((12L, Timestamp.valueOf("2024-01-11 10:30:00"), 4L, "purchase", 1.0, """{"k": 0}"""))
    val dir = tmp("attr")
    (events ++ stale).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventOps.attribution.run(spark, dir).collect()
      .map(r => r.getAs[String]("channel") ->
        (r.getAs[Long]("n_touches"), r.getAs[Long]("credit_ppm"))).toMap
    assert(got("ch0") == ((1L, 400000L)), s"$got")  // first of 4 only (stale excluded)
    assert(got("ch1") == ((2L, 1100000L)))          // solo 1e6 + middle 100k
    assert(got("ch2") == ((2L, 600000L)))           // 500k (n=2 first) + 100k middle
    assert(got("ch3") == ((2L, 900000L)))           // 500k (n=2 last) + 400k last-of-4
  }

  test("join-size estimate is exact under uniform frequencies below sketch size") {
    import spark.implicits._
    // 10 users click 3x each; 6 of them view 2x each (+ 2 view-only users)
    val clicks = for (u <- 1L to 10L; i <- 1 to 3)
      yield (u * 100 + i, Timestamp.valueOf("2024-01-01 00:00:00"), u, "click", 1.0, """{"k": 1}""")
    val views = for (u <- 5L to 12L; i <- 1 to 2)
      yield (u * 1000 + i, Timestamp.valueOf("2024-01-01 00:00:00"), u, "view", 1.0, """{"k": 1}""")
    val dir = tmp("jse")
    (clicks ++ views).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SketchOps.joinSizeEstimate.run(spark, dir).collect()(0)
    // below K=64 every KMV estimate is exact: keys_common = 6,
    // freq_a = 30 DIV 10 = 3, freq_b = 16 DIV 8 = 2 -> est = 36 = exact
    assert(r.getAs[Long]("est_keys_common") == 6L, s"$r")
    assert(r.getAs[Long]("exact_join") == 36L)
    assert(r.getAs[Long]("est_join") == 36L)
    assert(r.getAs[Long]("err_ppm") == 0L)
  }

  test("mad: spike flagged against a noisy baseline the mean detector would smear") {
    import spark.implicits._
    // 29 baseline days cycling 100/101/102 (10/10/9 days), one 50x spike
    val orders = (1 to 29).map { d =>
      val v = (d % 3) match { case 1 => 100.0; case 2 => 101.0; case _ => 102.0 }
      (d.toLong, 1L, "O", v, Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"), "P")
    } :+ (30L, 1L, "O", 5000.0, Timestamp.valueOf("2024-01-30 00:00:00"), "P")
    val dir = tmp("mad")
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = AnalyticsExtra.defs.find(_.name == "ts_anomaly_robust_mad").get
      .run(spark, dir).collect()
    assert(rows.length == 1, s"only the spike day: ${rows.mkString(";")}")
    assert(rows(0).getAs[java.sql.Date]("d").toString == "2024-01-30")
    // n=30, lower median rank 15: cents 10000x10, 10100x10, 10200x9, spike
    // -> med = 10100; devs 0x10, 100x19, 489900 -> mad = 100
    assert(rows(0).getAs[Long]("med") == 10100L)
    assert(rows(0).getAs[Long]("mad") == 100L)
  }
}
