package graft.operators

import java.sql.Timestamp

import scala.util.Random

import graft.SparkSpec

/** Property fuzzing for the round-10 wave operators: attribution credit
  * conservation, link prediction and k-core against brute-force scalar
  * references, scene cuts against a byte-level reference.
  */
class Round10PropertySpec extends SparkSpec {

  private def tmp(p: String) = graft.TmpDirs.create(s"graft-$p")

  test("attribution conserves credit: per conversion, 1e6 - (n-2) <= sum <= 1e6") {
    import spark.implicits._
    val rnd = new Random(2026)
    val events = (1 to 40).flatMap { u =>
      val nClicks = rnd.nextInt(6)
      val clicks = (1 to nClicks).map { i =>
        (u * 100L + i, Timestamp.valueOf(f"2024-01-10 ${7 + i}%02d:00:00"),
          u.toLong, "click", 1.0, s"""{"k": ${rnd.nextInt(40)}}""")
      }
      val purchase = (u * 100L + 50,
        Timestamp.valueOf("2024-01-10 20:00:00"), u.toLong, "purchase", 1.0, """{"k": 0}""")
      clicks :+ purchase
    }
    val dir = tmp("attrprop")
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = EventOps.attribution.run(spark, dir).collect()
    val totalCredit = rows.map(_.getAs[Long]("credit_ppm")).sum
    val byUser = events.filter(_._4 == "click").groupBy(_._3).view.mapValues(_.size)
    // conversions with >= 1 click in window; all clicks are within 24h here
    val conversions = byUser.filter(_._2 > 0)
    val exact = conversions.values.map { n =>
      if (n <= 2) 1000000L else 800000L + (200000L / (n - 2)) * (n - 2)
    }.sum
    assert(totalCredit == exact,
      s"credit must be exactly the per-conversion formula sum: $totalCredit vs $exact")
    conversions.values.foreach { n =>
      val credit = if (n <= 2) 1000000L else 800000L + (200000L / (n - 2)) * (n - 2)
      assert(credit <= 1000000L && credit >= 1000000L - math.max(0, n - 2),
        s"n=$n credit=$credit outside the conservation band")
    }
  }

  test("link prediction matches a brute-force reference on random co-order graphs") {
    import spark.implicits._
    val rnd = new Random(31)
    for (round <- 1 to 3) {
      val li = (for {
        ok <- 1L to 15L; pk <- 0L until 25L if rnd.nextInt(4) == 0
      } yield (ok, pk)).distinct
      val dir = tmp(s"lpf$round")
      li.map { case (ok, pk) => (ok, pk, 1L) }
        .toDF("l_orderkey", "l_partkey", "l_suppkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // brute force
      val byPart = li.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
      val nodes = byPart.keys.toSeq.sorted
      val nbr = nodes.map { u =>
        u -> nodes.filter(v => v != u && (byPart(u) & byPart(v)).nonEmpty).toSet
      }.toMap
      val expected = nodes.filter(u => u < 10 && nbr(u).nonEmpty).flatMap { s =>
        val cands = nbr(s).flatMap(nbr).filter(c => c != s && !nbr(s).contains(c))
        val scored = cands.toSeq.map { c =>
          val cn = (nbr(s) & nbr(c)).size.toLong
          (c, cn, cn * 1000000L / (nbr(s).size + nbr(c).size - cn))
        }.sortBy { case (c, cn, _) => (-cn, c) }.take(3)
        scored.zipWithIndex.map { case ((c, cn, j), i) => (s, i + 1L, c, cn, j) }
      }.sortBy(r => (r._1, r._2))
      val got = GraphIterative.linkPrediction.run(spark, dir).collect()
        .map(r => (r.getAs[Long]("seed"), r.getAs[Long]("rnk"), r.getAs[Long]("cand"),
          r.getAs[Long]("common_neighbors"), r.getAs[Long]("jaccard_ppm"))).toSeq
      assert(got == expected, s"round $round")
    }
  }

  test("kcore peel matches a scalar peeling reference on random bipartite graphs") {
    import spark.implicits._
    val rnd = new Random(47)
    for (round <- 1 to 3) {
      val li = (for {
        pk <- 1L to 12L; sk <- 1L to 8L if rnd.nextInt(3) == 0
      } yield (pk, sk)).distinct
      val dir = tmp(s"kc$round")
      li.map { case (pk, sk) => (sk * 100 + pk, pk, sk) }
        .toDF("l_orderkey", "l_partkey", "l_suppkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // scalar reference: same one-round-at-a-time peel (degree < 3)
      var edges = li.map { case (pk, sk) => (sk * 2, pk * 2 + 1) }.toSet
      val expected = (1 to 3).map { _ =>
        val deg = (edges.toSeq.map(_._1) ++ edges.toSeq.map(_._2))
          .groupBy(identity).view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= 3).keySet
        edges = edges.filter(e => keep(e._1) && keep(e._2))
        (keep.count(_ % 2 == 0).toLong, keep.count(_ % 2 == 1).toLong,
          edges.size.toLong)
      }
      val got = GraphIterative.kcorePeel.run(spark, dir).collect()
        .map(r => (r.getAs[Long]("n_suppliers"), r.getAs[Long]("n_parts"),
          r.getAs[Long]("n_edges_remaining"))).toSeq
      assert(got == expected, s"round $round: $got vs $expected")
    }
  }

  test("scene cuts match a byte-level reference on constructed payloads") {
    import spark.implicits._
    // doc_id % 3 == 2 -> video. 3 frames: steady, steady, jump
    val steady = "a" * 16
    val jump = "z" * 16
    val docs = Seq(
      (2L, steady + steady + jump, "s"),   // boundary 1: 0, boundary 2: 16*25=400 -> cut
      (5L, steady + steady, "s"),          // one boundary, diff 0
      (8L, steady.substring(0, 10), "s"))  // <2 frames -> absent
      .map { case (id, t, src) => (id, t, src, t.length.toLong) }
    val dir = tmp("scene")
    docs.toDF("doc_id", "text", "source", "n_chars").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val rows = graft.multimodal.MultimodalOps.videoSceneCuts.run(spark, dir).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[Long]("n_boundaries"), r.getAs[Long]("n_cuts"),
          r.getAs[Long]("first_cut_idx"), r.getAs[Long]("max_diff_energy"))).toMap
    // |'z'-'a'| = 25 per byte, 16 bytes -> 400 == threshold -> cut
    assert(rows(2L) == ((2L, 1L, 2L, 400L)), s"$rows")
    assert(rows(5L) == ((1L, 0L, -1L, 0L)))
    assert(!rows.contains(8L), "sub-2-frame clip has no boundaries")
  }
}
