package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** ts_anomaly_daily_revenue: a spike over a flat baseline is flagged,
  * the trailing frame excludes the current day (no self-masking), and
  * a flat series yields no flags.
  */
class AnomalySpec extends SparkSpec {

  private def run(dir: String) =
    AnalyticsExtra.defs.find(_.name == "ts_anomaly_daily_revenue").get.run(spark, dir)

  private def writeOrders(dir: String, rows: Seq[(Long, Double, String)]): Unit = {
    import spark.implicits._
    rows.map { case (k, p, d) => (k, 1L, Timestamp.valueOf(d + " 00:00:00"), p) }
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  test("one spike over a stable baseline is the only flagged day") {
    val dir = graft.TmpDirs.create("graft-anom")
    // 30 flat days with mild alternation (nonzero variance), then a 10x spike
    val days = (1 to 30).map(i =>
      (i.toLong, if (i % 2 == 0) 1010.0 else 990.0, f"2024-01-${i}%02d")) :+
      (31L, 10000.0, "2024-01-31")
    writeOrders(dir, days)
    val flagged = run(dir).collect().map(_.getDate(0).toString).toList
    assert(flagged == List("2024-01-31"), s"flagged $flagged")
  }

  test("a flat series with variance produces no flags") {
    val dir = graft.TmpDirs.create("graft-anom2")
    writeOrders(dir, (1 to 28).map(i =>
      (i.toLong, if (i % 2 == 0) 1010.0 else 990.0, f"2024-03-${i}%02d")))
    assert(run(dir).count() == 0)
  }
}

/** text_pmi_bigrams: a bigram whose words occur ONLY together must
  * out-rank bigrams of promiscuous words.
  */
class PmiSpec extends SparkSpec {

  test("an exclusive pair tops the lift ranking") {
    import spark.implicits._
    val dir = graft.TmpDirs.create("graft-pmi")
    // "alpha beta" always adjacent and never apart (6 > min-count 5);
    // "the end" also frequent but 'the' occurs widely
    val docs = (1 to 6).map(i => (i.toLong, s"alpha beta the w$i the end")) ++
      (7 to 12).map(i => (i.toLong, s"the x$i the end"))
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val top = graft.functions.TextAnalysis.pmiBigrams.run(spark, dir).collect()(0)
    assert((top.getString(0), top.getString(1)) == (("alpha", "beta")),
      s"top bigram was ${top.getString(0)} ${top.getString(1)}")
  }
}
