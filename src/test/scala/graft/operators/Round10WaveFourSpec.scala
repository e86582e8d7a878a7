package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** Wave-4 round-10 operators: seeded link prediction and the live
  * foreachBatch CDC merge.
  */
class Round10WaveFourSpec extends SparkSpec {

  private def tmp(p: String) = graft.TmpDirs.create(s"graft-$p")

  test("link prediction: two-hop candidate ranked by common neighbors, directs excluded") {
    import spark.implicits._
    // orders as cliques: o1={1,20,21}, o2={20,21,30}, o3={21,30,40}
    // seed 1 (id < 10): neighbors {20,21}. two-hop candidates:
    //   30 via 20 (o2) and via 21 (o2,o3) -> cn=2
    //   40 via 21 (o3)                    -> cn=1
    val li = Seq(
      (1L, 1L), (1L, 20L), (1L, 21L),
      (2L, 20L), (2L, 21L), (2L, 30L),
      (3L, 21L), (3L, 30L), (3L, 40L))
    val dir = tmp("lp")
    li.map { case (ok, pk) => (ok, pk, 1L) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = GraphIterative.linkPrediction.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("seed"), r.getAs[Long]("rnk")) ->
        (r.getAs[Long]("cand"), r.getAs[Long]("common_neighbors"),
          r.getAs[Long]("jaccard_ppm"))).toMap
    // deg: 1->{20,21}=2, 20->{1,21,30}=3, 21->{1,20,30,40}=4, 30->{20,21,40}=3, 40->{21,30}=2
    assert(rows((1L, 1L)) == ((30L, 2L, 2L * 1000000L / (2 + 3 - 2))), s"$rows")
    assert(rows((1L, 2L)) == ((40L, 1L, 1L * 1000000L / (2 + 2 - 1))))
    // direct neighbors 20/21 must never appear as candidates for seed 1
    assert(!rows.values.exists(v => v._1 == 20L || v._1 == 21L))
  }

  test("live cdc merge: tombstones hide post-cutoff errors; pre-cutoff error is a state") {
    import spark.implicits._
    def ev(id: Long, day: Int, user: Long, typ: String) =
      (id, Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), user, typ, 1.0, "{}")
    val events = Seq(
      ev(1, 2, 1, "view"), ev(2, 20, 1, "purchase"),  // updated across batches
      ev(3, 3, 2, "click"),                            // carried from base
      ev(4, 4, 3, "view"), ev(5, 28, 3, "error"),      // tombstoned in batch 2
      ev(6, 21, 4, "signup"),                          // inserted in batch 1
      ev(7, 5, 5, "error"),                            // pre-cutoff error = a STATE
      ev(8, 18, 6, "view"), ev(9, 27, 6, "click"))     // upserted twice, last wins
    val dir = tmp("cdclive")
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = StreamLive.defs.find(_.name == "stream_cdc_merge_live").get
      .run(spark, dir).collect()
      .map(r => r.getAs[String]("state") -> r.getAs[Long]("n_users")).toMap
    assert(got == Map(
      "purchase" -> 1L,  // user 1
      "click" -> 2L,     // users 2 and 6
      "signup" -> 1L,    // user 4
      "error" -> 1L),    // user 5: pre-cutoff error is a state, not a delete
      s"$got")           // user 3 deleted by the post-cutoff tombstone
  }
}
