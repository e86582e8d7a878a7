package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** stats_ks_drift: the exact KS gap and its location on two shifted
  * uniform samples, with the smallest-location tie-break.
  */
class KsDriftSpec extends SparkSpec {

  test("shifted uniforms: KS = 0.5 at the last disjoint value") {
    import spark.implicits._
    // view: 1.00..10.00; purchase: 6.00..15.00. F_view−F_purch climbs to
    // 5/10 at v=5.00 and stays 0.5 through v=10.00 (both gain 1/10 per
    // step on 6..10) — tie broken at the SMALLEST location, 500 cents.
    val events =
      (1 to 10).map(i => (i.toLong, 1L, "view", i.toDouble)) ++
      (6 to 15).map(i => (100L + i, 2L, "purchase", i.toDouble))
    val dir = graft.TmpDirs.create("graft-ks")
    events.map { case (e, u, t, v) => (e, Timestamp.valueOf("2024-01-01 00:00:00"), u, t, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val r = AnalyticsExtra.defs.find(_.name == "stats_ks_drift").get
      .run(spark, dir).collect()(0)
    assert(r.getAs[Long]("n1") == 10L && r.getAs[Long]("n2") == 10L)
    assert(r.getAs[Long]("ks_ppm") == 500000L, s"$r")
    assert(r.getAs[Long]("ks_at_cents") == 500L, s"tie-break wrong: $r")
  }
}
