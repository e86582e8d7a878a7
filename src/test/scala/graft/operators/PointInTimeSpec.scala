package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** join_pointintime_features: the feature cutoff is purchase_ts − 1 h,
  * a state change AFTER the cutoff but before the label never leaks, a
  * change exactly AT the cutoff counts (at-or-before), and a user with
  * no state before the cutoff surfaces NULL.
  */
class PointInTimeSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("cutoff semantics: no leakage, at-boundary counts, null roster") {
    import spark.implicits._
    val events = Seq(
      // user 1: view 10:00, click 10:30, purchase 11:15 → cutoff 10:15:
      // the 10:30 click is inside (cutoff, label) and must NOT leak
      (101L, ts("2024-01-01 10:00:00"), 1L, "view"),
      (102L, ts("2024-01-01 10:30:00"), 1L, "click"),
      (103L, ts("2024-01-01 11:15:00"), 1L, "purchase"),
      // user 2: purchase is the user's first event → nothing at 08:00
      (201L, ts("2024-01-01 09:00:00"), 2L, "purchase"),
      // user 3: view exactly at the 09:00 cutoff → counts, age 0
      (301L, ts("2024-01-01 09:00:00"), 3L, "view"),
      (302L, ts("2024-01-01 10:00:00"), 3L, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val dir = graft.TmpDirs.create("graft-ptj")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")

    val rows = TemporalJoins.pointInTime.run(spark, dir).collect()
      .map(r => r.getAs[Long]("purchase_event_id") ->
        (Option(r.getAs[String]("state_at_feature_ts")),
         Option(r.get(r.fieldIndex("state_age_us"))).map(_.asInstanceOf[Long])))
      .toMap

    assert(rows(103L) == ((Some("view"), Some(15L * 60 * 1000000))),
      s"user 1 leaked the post-cutoff click: ${rows(103L)}")
    assert(rows(201L) == ((None, None)), s"user 2 should have no state: ${rows(201L)}")
    assert(rows(302L) == ((Some("view"), Some(0L))),
      s"at-cutoff change must count: ${rows(302L)}")
  }
}
