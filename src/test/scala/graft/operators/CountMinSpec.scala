package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** sketch_countmin_heavyhitters: estimates match a pure-Scala count-min
  * built with the same md5-hex hashing, and the overestimate invariant
  * (est ≥ exact, always) holds for every emitted key.
  */
class CountMinSpec extends SparkSpec {

  private def hexInt6(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(6), 16)
  }

  test("sketch matches scalar reference; overestimate never negative") {
    import spark.implicits._
    // 40 users with counts 1..40 (user k occurs k times) → collisions
    // guaranteed somewhere across 120 cell probes, exercising the min
    val events = (1 to 40).flatMap(u => (1 to u).map(i =>
      (u * 1000L + i, Timestamp.valueOf("2024-01-01 10:00:00"), u.toLong, "view")))
      .toDF("event_id", "ts", "user_id", "event_type")
    val dir = graft.TmpDirs.create("graft-cm")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")

    val counts = (1 to 40).map(u => u.toLong -> u.toLong).toMap
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    for ((u, c) <- counts; j <- 0 until 3)
      cells((j, hexInt6(s"$j:$u") % 512)) = cells.getOrElse((j, hexInt6(s"$j:$u") % 512), 0L) + c
    def ref(u: Long): Long = (0 until 3).map(j => cells((j, hexInt6(s"$j:$u") % 512))).min

    val rows = SketchOps.countMin.run(spark, dir).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (u, exact, est, over) = (r.getAs[Long]("user_id"), r.getAs[Long]("n_exact"),
        r.getAs[Long]("cm_est"), r.getAs[Long]("overestimate"))
      assert(exact == counts(u), s"exact wrong for $u")
      assert(est == ref(u), s"estimate diverges from scalar CM for $u: $est vs ${ref(u)}")
      assert(over >= 0 && est >= exact, s"overestimate invariant broken for $u")
    }
    // top-20 by exact count = users 21..40
    assert(rows.map(_.getAs[Long]("user_id")).toSet == (21 to 40).map(_.toLong).toSet)
  }
}
