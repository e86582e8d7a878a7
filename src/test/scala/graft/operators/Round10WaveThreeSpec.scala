package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** Wave-3 round-10 operators: k-core peeling, weekday seasonality,
  * ANN MRR, RAKE keyphrases — constructed cases with hand-computed
  * expectations.
  */
class Round10WaveThreeSpec extends SparkSpec {

  private def tmp(p: String) = graft.TmpDirs.create(s"graft-$p")

  test("kcore: peripheral supplier and its parts peel off round by round") {
    import spark.implicits._
    // bipartite: suppliers 1-3 each linked to parts 1-3 (degrees 3 both
    // sides -> stable 3-core); supplier 9 linked only to part 1 (deg 1,
    // peeled round 1; part 1 then has deg 3 from s1-s3, stays).
    val li = (for { s <- Seq(1L, 2L, 3L); p <- Seq(1L, 2L, 3L) } yield (s * 10 + p, p, s)) :+
      (91L, 1L, 9L)
    val dir = tmp("kcore")
    li.toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = GraphIterative.kcorePeel.run(spark, dir).collect()
      .map(r => r.getAs[Long]("round") ->
        (r.getAs[Long]("n_suppliers"), r.getAs[Long]("n_parts"),
          r.getAs[Long]("n_edges_remaining"))).toMap
    // round 1: supplier 9 (deg 1) peeled; 3 suppliers + 3 parts, 9 edges
    assert(rows(1L) == ((3L, 3L, 9L)), s"$rows")
    // rounds 2-3: the 3x3 biclique is a stable 3-core
    assert(rows(2L) == ((3L, 3L, 9L)))
    assert(rows(3L) == ((3L, 3L, 9L)))
  }

  test("seasonal: weekday means and ppm factors match hand computation") {
    import spark.implicits._
    // 1995-01-01 is wd 0; 14 days, revenue = 100+wd dollars, two of each wd
    val orders = (0 until 14).map { i =>
      val day = java.time.LocalDate.of(1995, 1, 1).plusDays(i)
      (i.toLong, 1L, "O", 100.0 + (i % 7),
        Timestamp.valueOf(day.atStartOfDay()), "P")
    }
    val dir = tmp("season")
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val rows = AnalyticsExtra.defs.find(_.name == "ts_seasonal_weekday").get
      .run(spark, dir).collect()
    assert(rows.length == 7)
    val meanAll = (0 to 6).map(wd => (10000L + wd * 100) * 2).sum / 14
    rows.foreach { r =>
      val wd = r.getAs[Long]("weekday")
      assert(r.getAs[Long]("n_days") == 2L)
      assert(r.getAs[Long]("mean_cents") == 10000L + wd * 100)
      assert(r.getAs[Long]("seasonal_ppm") ==
        BigInt(10000 + wd * 100) * 1000000 / meanAll)
    }
  }

  test("mrr: lost-to-the-prune query scores 0, found-at-1 scores 1e6") {
    import spark.implicits._
    // queries are vec_id < 10. Keep it to 3 vectors:
    // 0: label 0, true top1 = 1 (same label)   -> ivf finds at rank 1
    // 1: label 0, true top1 = 0                -> rank 1
    // 2: label 1, alone in its cluster: true top1 exists globally but
    //    shares no label -> pruned away, rr = 0
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.01f), 0),
      (2L, Array(0.9f, 0.1f), 1))
    val dir = tmp("mrr")
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = PipelineCompositions.annMrr.run(spark, dir).collect()
      .map(r => r.getAs[Long]("qid") ->
        (Option(r.getAs[java.lang.Long]("ivf_rank")), r.getAs[Long]("rr_ppm"),
          r.getAs[Long]("mrr_ppm"))).toMap
    assert(rows(0L)._1 == Some(1L) && rows(0L)._2 == 1000000L, s"$rows")
    assert(rows(1L)._1 == Some(1L) && rows(1L)._2 == 1000000L)
    assert(rows(2L)._1.isEmpty && rows(2L)._2 == 0L,
      "singleton-cluster query must lose its true neighbor to the prune")
    assert(rows(0L)._3 == 2000000L / 3, "corpus MRR = mean of rr")
  }

  test("rake: repeated stopword-free run outranks singletons with exact score") {
    import spark.implicits._
    val docs = Seq(
      (1L, "deep learning of the deep learning", "s"),
      (2L, "a data pipeline", "s"))
    val dir = tmp("rake")
    docs.toDF("doc_id", "text", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val rows = graft.functions.TextAnalysis.rakeKeyphrases.run(spark, dir).collect()
      .map(r => r.getAs[String]("phrase") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("score_milli"))).toMap
    // phrases: "deep learning" x2, "data pipeline" x1
    // deep: freq 2, deg 4 -> 2000; learning same; data/pipeline: freq 1 deg 2 -> 2000
    // score("deep learning") = 4000, score("data pipeline") = 4000
    assert(rows("deep learning") == ((2L, 4000L)), s"$rows")
    assert(rows("data pipeline") == ((2L, 4000L)))
    assert(rows.size == 2)
  }
}
