package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** event_peak_concurrency: sweep-line peak and first-reached timestamp,
  * exits-before-entries on ties, open intervals never decrement.
  */
class PeakConcurrencySpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("half-open intervals, tie semantics, open-ended current state") {
    import spark.implicits._
    val events = Seq(
      // user 1: view 10:00 → click 11:00 (view interval [10,11))
      (11L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (12L, ts("2024-01-01 11:00:00"), 1L, "click"),
      // user 2: view 10:30 → never leaves (open view interval)
      (21L, ts("2024-01-01 10:30:00"), 2L, "view"),
      // user 3: enters view at 11:00 EXACTLY when user 1 leaves —
      // half-open: peak for view must stay 2, not 3
      (31L, ts("2024-01-01 11:00:00"), 3L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val dir = graft.TmpDirs.create("graft-peak")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = EventOps.defs.find(_.name == "event_peak_concurrency").get
      .run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getTimestamp(2))).toMap
    assert(got("view") == ((2L, ts("2024-01-01 10:30:00"))),
      s"view peak wrong (tie must not triple-count): ${got("view")}")
    assert(got("click") == ((1L, ts("2024-01-01 11:00:00"))), s"${got("click")}")
  }
}
