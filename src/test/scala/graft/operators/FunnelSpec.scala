package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** event_funnel_conversion: ordering is enforced (a click BEFORE the
  * first view never counts), the 7-day horizon anchors at the first
  * view, and stage counts shrink monotonically.
  */
class FunnelSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("order enforcement, horizon anchor, and stage counts") {
    import spark.implicits._
    val events = Seq(
      // user 1: full in-order funnel inside the horizon → all 3 stages
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-02 10:00:00"), "click"),
      (1L, ts("2024-01-03 10:00:00"), "purchase"),
      // user 2: click BEFORE the first view → stops at stage 1
      (2L, ts("2024-01-01 09:00:00"), "click"),
      (2L, ts("2024-01-01 10:00:00"), "view"),
      // user 3: purchase 8 days after the first view → horizon excludes it
      (3L, ts("2024-01-01 10:00:00"), "view"),
      (3L, ts("2024-01-02 10:00:00"), "click"),
      (3L, ts("2024-01-09 11:00:00"), "purchase"),
      // user 4: purchase before the click → order excludes stage 3
      (4L, ts("2024-01-01 10:00:00"), "view"),
      (4L, ts("2024-01-01 11:00:00"), "purchase"),
      (4L, ts("2024-01-01 12:00:00"), "click"),
      // user 5: never views → in no stage
      (5L, ts("2024-01-01 10:00:00"), "click"),
      (5L, ts("2024-01-01 11:00:00"), "purchase"))
      .map { case (u, t, e) => (u * 1000, t, u, e) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val dir = graft.TmpDirs.create("graft-funnel")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = EventOps.defs.find(_.name == "event_funnel_conversion").get
      .run(spark, dir).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 3L, 1L)),
      s"stage counts wrong: $r")
    assert(r.getDouble(3) == 0.75 && r.getDouble(4) == 1.0 / 3.0, s"conversions wrong: $r")
  }
}
