package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** event_rfm_segments: NTILE quartiles under the tie-broken order, with
  * a constructed population where every score is predictable.
  */
class RfmSpec extends SparkSpec {

  test("8 users with aligned R/F/M orderings land in the diagonal cells") {
    import spark.implicits._
    // user u (1..8): last event on day u, u events, total value 10·u —
    // every dimension sorts users identically, so NTILE(4) gives users
    // (1,2)→1, (3,4)→2, (5,6)→3, (7,8)→4 on ALL THREE axes.
    val events = (1 to 8).flatMap { u =>
      (1 to u).map { i =>
        (u * 100L + i, Timestamp.valueOf(f"2024-01-0$u%d 10:00:00"), u.toLong,
          "view", 10.0 * u / u) // each event value 10·u/u ⇒ total 10·u
      }
    }
    val dir = graft.TmpDirs.create("graft-rfm")
    events.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = EventOps.defs.find(_.name == "event_rfm_segments").get
      .run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // diagonal cells only: 111, 222, 333, 444 with 2 users each
    assert(got.keySet == Set(111L, 222L, 333L, 444L), s"cells: $got")
    assert(got.values.map(_._1).toSeq.sorted == Seq(2L, 2L, 2L, 2L))
    // cents mass of cell 444 = users 7,8 ⇒ (70+80)·100
    assert(got(444L)._2 == 15000L, s"${got(444L)}")
  }
}
