package graft.operators

import java.sql.Timestamp

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Fuzzes join_pointintime_features against a scalar reference: state at
  * the cutoff = type of the last event at-or-before it; age anchors at
  * the START of that state's run (the scd2 compaction semantics), not
  * at the last event.
  */
class PointInTimePropertySpec extends SparkSpec {

  private def refAt(evs: Seq[(Long, Long, String)], cutoffUs: Long): Option[(String, Long)] = {
    // evs: (event_id, ts_us, type), one user, any order
    val sorted = evs.sortBy(e => (e._2, e._1))
    val upto = sorted.takeWhile(e => e._2 <= cutoffUs)
    if (upto.isEmpty) None
    else {
      val st = upto.last._3
      // walk back to the first event of the trailing run of `st`
      val runStart = upto.reverse.takeWhile(_._3 == st).last._2
      Some((st, cutoffUs - runStart))
    }
  }

  private val gen: Gen[List[(Long, Long, Int, String)]] = for {
    nUsers <- Gen.choose(2, 5)
    evs <- Gen.listOfN(nUsers, for {
      n <- Gen.choose(1, 10)
      rows <- Gen.listOfN(n, for {
        minute <- Gen.choose(0, 600)
        tpe <- Gen.oneOf("view", "click", "purchase")
      } yield (minute, tpe))
    } yield rows)
  } yield evs.zipWithIndex.flatMap { case (rows, u) =>
    rows.zipWithIndex.map { case ((minute, tpe), i) =>
      ((u * 100 + i).toLong, minute.toLong * 60000000L, u + 1, tpe)
    }
  }

  test("random event streams match the scalar as-of reference") {
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime // ms
    var seed = Seed(31L)
    (1 to 8).foreach { _ =>
      val rows = gen.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      val dir = graft.TmpDirs.create("graft-ptjf")
      rows.map { case (eid, us, u, t) =>
        (eid, new Timestamp(base + us / 1000), u.toLong, t)
      }.toDF("event_id", "ts", "user_id", "event_type")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

      val got = TemporalJoins.pointInTime.run(spark, dir).collect()
        .map(r => r.getAs[Long]("purchase_event_id") ->
          (Option(r.getAs[String]("state_at_feature_ts")),
           Option(r.get(r.fieldIndex("state_age_us"))).map(_.asInstanceOf[Long])))
        .toMap

      val byUser = rows.groupBy(_._3)
      val want = rows.filter(_._4 == "purchase").map { case (eid, us, u, _) =>
        val r = refAt(byUser(u).map(e => (e._1, e._2, e._4)), us - 3600000000L)
        eid -> (r.map(_._1), r.map(_._2))
      }.toMap
      assert(got == want, s"mismatch: got=$got want=$want rows=$rows")
    }
  }
}
