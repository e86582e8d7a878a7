package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** event_transition_matrix + stats_winsorized_mean. */
class TransitionWinsorSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("transition counts follow the per-user total order; rows normalize") {
    import spark.implicits._
    val events = Seq(
      // user 1: view → click → view  ⇒ (view,click), (click,view)
      (1L, ts("2024-01-01 10:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-01-01 10:01:00"), 1L, "click", 0.0),
      (3L, ts("2024-01-01 10:02:00"), 1L, "view", 0.0),
      // user 2: view → view          ⇒ (view,view)
      (4L, ts("2024-01-01 10:00:00"), 2L, "view", 0.0),
      (5L, ts("2024-01-01 10:05:00"), 2L, "view", 0.0),
      // user 3: single event — no transition
      (6L, ts("2024-01-01 10:00:00"), 3L, "click", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = graft.TmpDirs.create("graft-trans")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = EventOps.defs.find(_.name == "event_transition_matrix").get
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      ("view", "click") -> ((1L, 500000L)),
      ("view", "view") -> ((1L, 500000L)),
      ("click", "view") -> ((1L, 1000000L))), s"got $got")
  }

  test("winsorized mean clamps the outlier at the p95 rank value") {
    import spark.implicits._
    // 20 values: 1.00..19.00 and one outlier 1000.00.
    // n=20 ⇒ lo rank ceil(1)=1 → 1.00; hi rank ceil(19)=19 → 19.00.
    // clamped sum = (1+..+19) + 19 = 209 ⇒ mean 10.45
    val events = ((1 to 19).map(i => (i.toLong, i.toDouble)) :+ (20L, 1000.0))
      .map { case (id, v) => (id, ts("2024-01-01 10:00:00"), id, "view", v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = graft.TmpDirs.create("graft-winsor")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")

    val r = AnalyticsExtra.defs.find(_.name == "stats_winsorized_mean").get
      .run(spark, dir).collect()(0)
    assert(r.getAs[Long]("n") == 20L)
    assert(r.getAs[Long]("lo_cents") == 100L && r.getAs[Long]("hi_cents") == 1900L, s"$r")
    assert(r.getAs[Double]("winsorized_mean") == 209.0 / 20.0, s"$r")
  }
}
