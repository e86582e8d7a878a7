package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** scale_two_stage_cumsum: the month-bucketed decomposition equals the
  * plain running total across month boundaries, and the day-grain
  * window is partitioned (only the months-level prefix is global).
  */
class TwoStageCumsumSpec extends SparkSpec {

  test("decomposition equals the direct running total across boundaries") {
    import spark.implicits._
    val orders = Seq(
      (1L, "2024-01-30", 10.0), (2L, "2024-01-31", 20.0),
      (3L, "2024-02-01", 5.0), (4L, "2024-02-01", 5.0),  // same-day fold
      (5L, "2024-03-15", 40.0))
      .map { case (k, d, p) => (k, 1L, "O", p, Timestamp.valueOf(d + " 00:00:00"), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val dir = graft.TmpDirs.create("graft-cumsum")
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val got = ScalePatterns.twoStageCumsum.run(spark, dir).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      "2024-01-30" -> ((1000L, 1000L)),
      "2024-01-31" -> ((2000L, 3000L)),
      "2024-02-01" -> ((1000L, 4000L)),   // crosses the month boundary
      "2024-03-15" -> ((4000L, 8000L))), s"got ${got.toSeq}")

    // shape: the day-grain running window must be PARTITIONED by month
    // (spec contains both the month partition key and the day sort key);
    // matching on "month" alone would also match the unpartitioned
    // month-prefix window and could never fail (r9 review finding)
    val plan = ScalePatterns.twoStageCumsum.run(spark, dir)
      .queryExecution.optimizedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.exists(w => w.contains("month") && w.contains("day")),
      s"day-grain window is not partitioned by month:\n${windows.mkString("\n")}")
    // and the naive shape (day-ordered window with NO month partition)
    // must be absent
    assert(!windows.exists(w => w.contains("day") && !w.contains("month")),
      s"unpartitioned day-grain window present:\n${windows.mkString("\n")}")
  }
}
