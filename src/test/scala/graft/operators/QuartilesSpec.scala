package graft.operators

import graft.SparkSpec

/** stats_length_quartiles_by_source: rank-based order statistics match a
  * direct in-memory sort for constructed groups, including ties and
  * tiny groups.
  */
class QuartilesSpec extends SparkSpec {

  test("quartiles equal the ceil(q*n)-th smallest value, ties and small groups included") {
    import spark.implicits._
    val docs = Seq(
      // source a: 1..8 → p25=2, p50=4, p75=6
      (1 to 8).map(i => (i.toLong, "a", i.toLong)),
      // source b: all ties
      (1 to 5).map(i => ((100 + i).toLong, "b", 7L)),
      // source c: single doc
      Seq((200L, "c", 42L))).flatten
      .map { case (id, src, n) => (id, "w " * 3, src, n) }
      .toDF("doc_id", "text", "source", "n_chars")
    val dir = graft.TmpDirs.create("graft-quart")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = AnalyticsExtra.defs.find(_.name == "stats_length_quartiles_by_source").get
      .run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows == Map(
      "a" -> ((2L, 4L, 6L)),
      "b" -> ((7L, 7L, 7L)),
      "c" -> ((42L, 42L, 42L))), s"got $rows")
  }
}
