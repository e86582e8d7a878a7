package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** join_asof_nearest_click: nearest in EITHER direction, microsecond
  * distances, before-wins tie-break, NULL roster row when a user's
  * errors have no clicks at all.
  */
class AsofNearestSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("direction choice, exact-tie to before, and the no-click NULL row") {
    import spark.implicits._
    val events = Seq(
      // user 1: click 10:00, error 10:10, click 10:12 → after is closer
      (101L, ts("2024-01-01 10:00:00"), 1L, "click"),
      (102L, ts("2024-01-01 10:10:00"), 1L, "error"),
      (103L, ts("2024-01-01 10:12:00"), 1L, "click"),
      // user 2: clicks equidistant (±5 min) → tie goes to before
      (201L, ts("2024-01-01 09:55:00"), 2L, "click"),
      (202L, ts("2024-01-01 10:00:00"), 2L, "error"),
      (203L, ts("2024-01-01 10:05:00"), 2L, "click"),
      // user 3: errors only → NULL nearest
      (301L, ts("2024-01-01 08:00:00"), 3L, "error"),
      // user 4: click exactly at the error ts → before, dt 0
      (401L, ts("2024-01-01 12:00:00"), 4L, "click"),
      (402L, ts("2024-01-01 12:00:00"), 4L, "error"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val dir = graft.TmpDirs.create("graft-asofn")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = TemporalJoins.asofNearest.run(spark, dir)
      .select("user_id", "error_event_id", "nearest_click_event_id", "dt_us", "direction")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) "null" else r.getString(4)))
      .toList
    assert(rows == List(
      (1L, 102L, 103L, 120L * 1000000, "after"),
      (2L, 202L, 201L, 300L * 1000000, "before"),
      (3L, 301L, -1L, -1L, "null"),
      (4L, 402L, 401L, 0L, "before")), s"got $rows")
  }
}
