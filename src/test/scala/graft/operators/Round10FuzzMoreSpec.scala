package graft.operators

import java.sql.Timestamp

import scala.util.Random

import graft.SparkSpec

/** Second fuzz tranche for round-10 operators: modularity and the batch
  * CDC merge against scalar references on random inputs.
  */
class Round10FuzzMoreSpec extends SparkSpec {

  private def tmp(p: String) = graft.TmpDirs.create(s"graft-$p")

  test("modularity matches a scalar reference on random graphs and partitions") {
    import spark.implicits._
    val rnd = new Random(88)
    for (round <- 1 to 3) {
      val li = (for {
        ok <- 1L to 12L; pk <- 1L to 15L if rnd.nextInt(4) == 0
      } yield (ok, pk)).distinct
      val brands = (1L to 15L).map(pk => pk -> s"B${rnd.nextInt(3)}").toMap
      val dir = tmp(s"modf$round")
      li.map { case (ok, pk) => (ok, pk, 1L) }
        .toDF("l_orderkey", "l_partkey", "l_suppkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      brands.toSeq.map { case (pk, b) => (pk, s"part$pk", b, "T", 1, 1.0) }
        .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      // scalar reference
      val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      val edges = byOrder.values.flatMap { ps =>
        val s = ps.toSeq.sorted
        for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
      }.toSet
      if (edges.nonEmpty) {
        val m = BigInt(edges.size)
        val within = edges.count { case (a, b) => brands(a) == brands(b) }
        val degByBrand = edges.toSeq.flatMap { case (a, b) => Seq(brands(a), brands(b)) }
          .groupBy(identity).view.mapValues(c => BigInt(c.size))
        val sumASq = degByBrand.values.map(a => a * a).sum
        val qPpm = (BigInt(1000000) * (4 * m * within - sumASq)) / (4 * m * m)
        val r = GraphIterative.modularity.run(spark, dir).collect()(0)
        assert(r.getAs[Long]("n_edges") == edges.size.toLong, s"round $round")
        assert(r.getAs[Long]("within_edges") == within.toLong)
        assert(r.getAs[Long]("q_ppm") == qPpm.toLong, s"round $round: $r vs $qPpm")
      }
    }
  }

  test("cdc merge kinds match a scalar reference on random event logs") {
    import spark.implicits._
    val rnd = new Random(12)
    val types = Seq("view", "click", "purchase", "signup", "error")
    for (round <- 1 to 3) {
      val events = (1 to 150).map { i =>
        val day = 1 + rnd.nextInt(28)
        (i.toLong, Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"),
          (1 + rnd.nextInt(25)).toLong, types(rnd.nextInt(types.size)), 1.0, "{}")
      }
      val dir = tmp(s"cdcf$round")
      events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      // scalar reference (cutoff 2024-01-16 00:00, day > 15 is post-cutoff)
      val cutoff = Timestamp.valueOf("2024-01-16 00:00:00")
      val byUser = events.groupBy(_._3)
      val expected = byUser.toSeq.flatMap { case (_, evs) =>
        val pre = evs.filter(e => !e._2.after(cutoff))
        val post = evs.filter(e => e._2.after(cutoff))
        def latest(xs: Seq[(Long, Timestamp, Long, String, Double, String)]) =
          xs.maxBy(e => (e._2.getTime, e._1))
        (pre.nonEmpty, post.nonEmpty) match {
          case (_, true) =>
            val l = latest(post)
            if (l._4 == "error") Some(("deleted", "-"))
            else if (pre.isEmpty) Some(("inserted", l._4))
            else Some(("updated", l._4))
          case (true, false) => Some(("carried", latest(pre)._4))
          case _ => None
        }
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = EventOps.cdcMerge.run(spark, dir).collect()
        .map(r => (r.getAs[String]("change_kind"), r.getAs[String]("final_state")) ->
          r.getAs[Long]("n_users")).toMap
      assert(got == expected, s"round $round: $got vs $expected")
    }
  }
}
