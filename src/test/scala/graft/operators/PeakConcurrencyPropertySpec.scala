package graft.operators

import java.sql.Timestamp

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Fuzzes event_peak_concurrency against an independent scalar
  * formulation: instead of a sweep, evaluate |{intervals: from ≤ t <
  * to}| directly at every interval start (concurrency only rises at
  * starts) — agreement pins the half-open semantics and the
  * first-reached tie-break on random streams with shared timestamps.
  */
class PeakConcurrencyPropertySpec extends SparkSpec {

  private def refPeaks(rows: Seq[(Long, Long, Long, String)])
      : Map[String, (Long, Long)] = {
    // rows: (event_id, ts_us, user, type) → per user compacted intervals
    val intervals = rows.groupBy(_._3).values.flatMap { evs =>
      val sorted = evs.sortBy(e => (e._2, e._1)).toList
      val changes = sorted.foldLeft(List.empty[(Long, String)]) { (acc, e) =>
        if (acc.headOption.exists(_._2 == e._4)) acc else (e._2, e._4) :: acc
      }.reverse
      changes.zipAll(changes.drop(1).map(c => Some(c._1)), null, None)
        .collect { case ((from, st), to) if st != null => (st, from, to) }
    }.toSeq
    intervals.groupBy(_._1).map { case (state, ivs) =>
      val starts = ivs.map(_._2).distinct.sorted
      val best = starts.map { t =>
        (ivs.count(iv => iv._2 <= t && iv._3.forall(t < _)), t)
      }.maxBy { case (c, t) => (c.toLong, -t) } // max count, earliest t
      state -> (best._1.toLong, best._2)
    }
  }

  private val gen: Gen[List[(Long, Long, Int, String)]] = for {
    nUsers <- Gen.choose(2, 5)
    evs <- Gen.listOfN(nUsers, for {
      n <- Gen.choose(1, 8)
      rows <- Gen.listOfN(n, for {
        minute <- Gen.choose(0, 20)     // dense → shared timestamps likely
        tpe <- Gen.oneOf("a", "b")
      } yield (minute, tpe))
    } yield rows)
  } yield evs.zipWithIndex.flatMap { case (rows, u) =>
    rows.zipWithIndex.map { case ((minute, tpe), i) =>
      ((u * 100 + i).toLong, minute.toLong * 60000000L, u + 1, tpe)
    }
  }

  test("point-evaluation reference agrees on random dense streams") {
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    var seed = Seed(53L)
    (1 to 8).foreach { _ =>
      val rows = gen.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      val dir = graft.TmpDirs.create("graft-peakf")
      rows.map { case (eid, us, u, t) =>
        (eid, new Timestamp(base + us / 1000), u.toLong, t)
      }.toDF("event_id", "ts", "user_id", "event_type")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

      val got = EventOps.defs.find(_.name == "event_peak_concurrency").get
        .run(spark, dir).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), (r.getTimestamp(2).getTime - base) * 1000L)).toMap
      val want = refPeaks(rows.map { case (e, us, u, t) => (e, us, u.toLong, t) })
      assert(got == want, s"peaks: got=$got want=$want rows=$rows")
    }
  }
}
