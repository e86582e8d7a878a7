package graft.functions

import graft.SparkSpec

/** text_novelty_score: a verbatim duplicate zeroes both docs' novelty,
  * a fresh doc scores 10⁶, and sub-5-token docs drop from the roster.
  */
class NoveltySpec extends SparkSpec {

  test("df=1 share per source") {
    import spark.implicits._
    val dup = (1 to 8).map(i => s"d$i").mkString(" ") // 4 grams, all df=2
    val docs = Seq(
      (1L, dup, "a"),
      (2L, dup, "a"),
      (3L, (1 to 6).map(i => s"f$i").mkString(" "), "b"), // 2 grams, df=1
      (4L, "one two three", "b"))                        // < 5 tokens → dropped
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.TmpDirs.create("graft-novel")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = TextAnalysis.noveltyScore.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("a") == ((2L, 0L, 0L)), s"duplicated source: ${got("a")}")
    assert(got("b") == ((1L, 1000000L, 1000000L)), s"fresh source: ${got("b")}")
  }
}
