package graft.operators

import java.sql.Timestamp

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Fuzzes event_rfm_segments against a scalar NTILE implementation —
  * the SQL-standard distribution rule (first n mod 4 groups get the
  * extra row) under tie-broken orders is the riskiest cross-engine
  * piece, so it gets its own reference.
  */
class RfmPropertySpec extends SparkSpec {

  /** SQL-standard NTILE(4): position i (0-based) in an n-row order →
    * bucket. First (n mod 4) buckets have ceil(n/4) rows.
    */
  private def ntile4(i: Int, n: Int): Int = {
    val big = n / 4 + 1; val nBig = n % 4
    if (i < big * nBig) i / big + 1
    else (i - big * nBig) / (n / 4) + nBig + 1
  }

  private val gen: Gen[List[(Int, Int, Int)]] = for {
    n <- Gen.choose(4, 25)
    rows <- Gen.listOfN(n, for {
      day <- Gen.choose(1, 9)     // recency driver
      freq <- Gen.choose(1, 5)    // events per user
      v <- Gen.choose(0, 50)      // per-event value
    } yield (day, freq, v))
  } yield rows

  test("census matches a scalar NTILE reference") {
    import spark.implicits._
    var seed = Seed(41L)
    (1 to 6).foreach { _ =>
      val users = gen.apply(Gen.Parameters.default, seed).get.zipWithIndex
        .map { case ((d, f, v), i) => (i.toLong + 1, d, f, v) }
      seed = seed.next
      val events = users.flatMap { case (u, d, f, v) =>
        (1 to f).map(i => (u * 100 + i, Timestamp.valueOf(f"2024-01-0$d%d 10:00:00"),
          u, "view", v.toDouble))
      }
      val dir = graft.TmpDirs.create("graft-rfmf")
      events.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

      // scalar RFM
      val per = users.map { case (u, d, f, v) => (u, d, f.toLong, v.toLong * 100 * f) }
      val n = per.size
      def scores(key: ((Long, Int, Long, Long)) => (Long, Long)): Map[Long, Int] =
        per.sortBy(u => (key(u), u._1)).zipWithIndex
          .map { case (u, i) => u._1 -> ntile4(i, n) }.toMap
      val r = scores(u => (u._2.toLong, 0L)) // last_ts ~ day (one day per user)
      val f = scores(u => (u._3, 0L))
      val m = scores(u => (u._4, 0L))
      val want = per.groupBy(u => r(u._1) * 100L + f(u._1) * 10L + m(u._1))
        .map { case (code, us) => code -> (us.size.toLong, us.map(_._4).sum) }

      val got = EventOps.defs.find(_.name == "event_rfm_segments").get
        .run(spark, dir).collect()
        .map(row => row.getLong(0) -> (row.getLong(1), row.getLong(2))).toMap
      assert(got == want, s"census: $got vs $want users=$users")
    }
  }
}
