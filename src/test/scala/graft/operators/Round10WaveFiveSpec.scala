package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** Wave-5 round-10 operators: exact OLS trend and cumulative uniques.
  */
class Round10WaveFiveSpec extends SparkSpec {

  private def tmp(p: String) = graft.TmpDirs.create(s"graft-$p")

  test("ols: exact slope and intercept on a constructed linear series") {
    import spark.implicits._
    // revenue = 100.00 + 2.00 * day for days 0..9 -> slope 200 cents/day,
    // intercept 10000 cents, exactly
    val orders = (0 until 10).map { d =>
      val day = java.time.LocalDate.of(1995, 1, 1).plusDays(d)
      (d.toLong, 1L, "O", 100.0 + 2.0 * d, Timestamp.valueOf(day.atStartOfDay()), "P")
    }
    val dir = tmp("ols")
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = AnalyticsExtra.defs.find(_.name == "ts_trend_ols").get
      .run(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_days") == 10L)
    assert(r.getAs[Long]("slope_milli_cents_per_day") == 200000L, s"$r")
    assert(r.getAs[Long]("intercept_cents") == 10000L)
  }

  test("ols: negative non-exact slope truncates toward zero on both engines") {
    import spark.implicits._
    // one cent on day 2 of 7, zero elsewhere: num = 7·2 − 21·1 = −7,
    // den = 7·91 − 21² = 196 -> slope_milli = −7000 DIV 196 = −35
    // (truncation toward zero; floor division would give −36 — this is
    // the case that would expose a Spark-DIV vs DuckDB-// mismatch)
    val orders = (0 until 7).map { d =>
      val day = java.time.LocalDate.of(1995, 1, 1).plusDays(d)
      (d.toLong, 1L, "O", if (d == 2) 0.01 else 0.0,
        Timestamp.valueOf(day.atStartOfDay()), "P")
    }
    val dir = tmp("olsneg")
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = AnalyticsExtra.defs.find(_.name == "ts_trend_ols").get
      .run(spark, dir).collect()(0)
    assert(r.getAs[Long]("slope_milli_cents_per_day") == -35L, s"$r")
  }

  test("cumulative uniques: returning users never recount") {
    import spark.implicits._
    def ev(id: Long, day: Int, user: Long) =
      (id, Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"), user, "view", 1.0, "{}")
    val events = Seq(
      ev(1, 1, 1), ev(2, 1, 2),          // day 1: users 1,2 new
      ev(3, 2, 1), ev(4, 2, 3),          // day 2: 1 returns, 3 new
      ev(5, 3, 1), ev(6, 3, 2))          // day 3: all returning
    val dir = tmp("cumu")
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventOps.cumulativeUniques.run(spark, dir).collect()
      .map(r => (r.getAs[java.sql.Date]("d").toString,
        r.getAs[Long]("n_events"), r.getAs[Long]("new_users"), r.getAs[Long]("cum_users")))
    assert(got.toSeq == Seq(
      ("2024-01-01", 2L, 2L, 2L),
      ("2024-01-02", 2L, 1L, 3L),
      ("2024-01-03", 2L, 0L, 3L)), s"${got.toSeq}")
  }
}
