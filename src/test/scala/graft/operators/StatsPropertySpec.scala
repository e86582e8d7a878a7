package graft.operators

import java.sql.Timestamp

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Fuzzes stats_winsorized_mean and stats_ks_drift against independent
  * scalar implementations on random event populations — rank-boundary
  * arithmetic (ceil positions, ties) and the KS argmax/tie-break are
  * exactly the places a hand-picked example can miss.
  */
class StatsPropertySpec extends SparkSpec {

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")

  private def refWinsor(cents: Seq[Long]): (Long, Long, Double) = {
    val sorted = cents.sorted
    val n = sorted.size
    val lo = sorted((n + 19) / 20 - 1)
    val hi = sorted((19 * n + 19) / 20 - 1)
    val s = cents.map(c => math.max(lo, math.min(hi, c))).sum
    (lo, hi, s.toDouble / n / 100.0)
  }

  private def refKs(a: Seq[Long], b: Seq[Long]): (Long, Long) = {
    val n1 = a.size.toLong; val n2 = b.size.toLong
    val vs = (a ++ b).distinct.sorted
    var best = -1L; var at = 0L
    vs.foreach { v =>
      val d = math.abs(a.count(_ <= v) * n2 - b.count(_ <= v) * n1)
      if (d > best) { best = d; at = v }
    }
    (best * 1000000L / (n1 * n2), at)
  }

  private val popGen: Gen[(List[Int], List[Int])] = for {
    na <- Gen.choose(3, 40)
    nb <- Gen.choose(3, 40)
    a <- Gen.listOfN(na, Gen.choose(0, 30))
    b <- Gen.listOfN(nb, Gen.choose(0, 30))
  } yield (a, b)

  test("winsorized mean and KS match scalar references on random populations") {
    import spark.implicits._
    var seed = Seed(23L)
    (1 to 8).foreach { _ =>
      val (a, b) = popGen.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      val events =
        a.zipWithIndex.map { case (v, i) => (i.toLong, t0, i.toLong, "view", v.toDouble) } ++
        b.zipWithIndex.map { case (v, i) =>
          (1000L + i, t0, 1000L + i, "purchase", v.toDouble) }
      val dir = graft.TmpDirs.create("graft-statsf")
      events.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

      val wrows = AnalyticsExtra.defs.find(_.name == "stats_winsorized_mean").get
        .run(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
      val wantV = refWinsor(a.map(_ * 100L))
      val wantP = refWinsor(b.map(_ * 100L))
      assert(wrows("view") == wantV, s"view winsor: ${wrows("view")} vs $wantV a=$a")
      assert(wrows("purchase") == wantP, s"purch winsor: ${wrows("purchase")} vs $wantP b=$b")

      val k = AnalyticsExtra.defs.find(_.name == "stats_ks_drift").get
        .run(spark, dir).collect()(0)
      val (wantPpm, wantAt) = refKs(a.map(_ * 100L), b.map(_ * 100L))
      assert(k.getAs[Long]("ks_ppm") == wantPpm && k.getAs[Long]("ks_at_cents") == wantAt,
        s"ks: $k vs ($wantPpm, $wantAt) a=$a b=$b")
    }
  }
}
