package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** sketch_kmv_distinct: the small-group path is exact, the sketched path
  * matches a scalar KMV built with the same md5-hex hashing, and
  * duplicate events never inflate the estimate.
  */
class KmvSpec extends SparkSpec {

  private def hex12(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(12), 16)
  }

  test("exact below K, scalar-KMV above K, duplicate-insensitive") {
    import spark.implicits._
    // 'view': 200 distinct users (> K=64, sketched); each user twice
    // (duplicates must not matter). 'click': 10 users (< K, exact path).
    val events =
      (1 to 200).flatMap(u => Seq((u.toLong * 10, u.toLong, "view"),
                                   (u.toLong * 10 + 1, u.toLong, "view"))) ++
      (1 to 10).map(u => (100000L + u, u.toLong + 5000, "click"))
    val dir = graft.TmpDirs.create("graft-kmv")
    events.map { case (e, u, t) => (e, Timestamp.valueOf("2024-01-01 00:00:00"), u, t) }
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = SketchOps.kmvDistinct.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    assert(got("click") == ((10L, 10L)), s"below-K group must be exact: ${got("click")}")

    val vk = (1 to 200).map(u => hex12(u.toString)).distinct.sorted.apply(63)
    val wantEst = 63L * (1L << 48) / vk
    assert(got("view") == ((200L, wantEst)), s"sketched group: ${got("view")} want $wantEst")
  }
}
