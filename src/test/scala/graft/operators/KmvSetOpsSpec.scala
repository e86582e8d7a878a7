package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** sketch_kmv_set_ops: union estimate comes from the pooled minima and
  * intersection from inclusion-exclusion, matching a scalar KMV on
  * half-overlapping sets.
  */
class KmvSetOpsSpec extends SparkSpec {

  private def hex12(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12), 16)
  }
  private def est(ids: Set[Long]): Long = {
    val hs = ids.map(u => hex12(u.toString)).toSeq.sorted
    if (hs.size < 64) hs.size.toLong else 63L * (1L << 48) / hs(63)
  }

  test("inclusion-exclusion over pooled minima") {
    import spark.implicits._
    val view = (1L to 100L).toSet
    val purch = (51L to 150L).toSet
    val events =
      view.toSeq.map(u => (u, u, "view")) ++
      purch.toSeq.map(u => (1000L + u, u, "purchase"))
    val dir = graft.TmpDirs.create("graft-kmvset")
    events.map { case (e, u, t) => (e, Timestamp.valueOf("2024-01-01 00:00:00"), u, t) }
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val r = SketchOps.kmvSetOps.run(spark, dir).collect()(0)
    assert(r.getAs[Long]("exact_a") == 100L && r.getAs[Long]("exact_b") == 100L &&
      r.getAs[Long]("exact_union") == 150L && r.getAs[Long]("exact_intersect") == 50L)
    assert(r.getAs[Long]("est_a") == est(view), s"$r")
    assert(r.getAs[Long]("est_b") == est(purch), s"$r")
    assert(r.getAs[Long]("est_union") == est(view ++ purch), s"$r")
    assert(r.getAs[Long]("est_intersect") ==
      est(view) + est(purch) - est(view ++ purch), s"$r")
  }
}
