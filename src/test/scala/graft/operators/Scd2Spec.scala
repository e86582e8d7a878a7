package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** scd2_user_state_history: consecutive same-state events compact into
  * one interval, intervals tile without gaps, and the last row per user
  * is open-ended.
  */
class Scd2Spec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("compaction, tiling, and the open-ended current row") {
    import spark.implicits._
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (2L, ts("2024-01-01 11:00:00"), 1L, "view"),    // repeat → folds into 10:00 interval
      (3L, ts("2024-01-01 12:00:00"), 1L, "click"),   // change
      (4L, ts("2024-01-01 13:00:00"), 1L, "view"),    // back again → NEW interval
      (5L, ts("2024-01-01 09:00:00"), 2L, "error"))   // single-state user
      .toDF("event_id", "ts", "user_id", "event_type")
    val dir = graft.TmpDirs.create("graft-scd2")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = EventOps.defs.find(_.name == "scd2_user_state_history").get
      .run(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getBoolean(4)))
      .toList
    assert(rows == List(
      (1L, "view", ts("2024-01-01 10:00:00"), Some(ts("2024-01-01 12:00:00")), false),
      (1L, "click", ts("2024-01-01 12:00:00"), Some(ts("2024-01-01 13:00:00")), false),
      (1L, "view", ts("2024-01-01 13:00:00"), None, true),
      (2L, "error", ts("2024-01-01 09:00:00"), None, true)), s"got $rows")
  }
}
