package graft.functions

import graft.SparkSpec

/** text_gini_diversity: exact integer Gini on handcrafted distributions —
  * a single-token source scores 0, a uniform one scores 1−1/k.
  */
class GiniDiversitySpec extends SparkSpec {

  test("degenerate and uniform sources") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a", "mono"),        // p=1 ⇒ gini 0, top1 1e6
      (2L, "x y z w", "uni"),         // 4 uniform ⇒ gini 750000, top1 250000
      (3L, "x x y", "skew"))          // p=(2/3,1/3) ⇒ 1−5/9 = 444444 ppm
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.TmpDirs.create("graft-gini")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = TextAnalysis.giniDiversity.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got("mono") == ((4L, 1L, 0L, 1000000L)), s"${got("mono")}")
    assert(got("uni") == ((4L, 4L, 750000L, 250000L)), s"${got("uni")}")
    assert(got("skew") == ((3L, 2L, 1000000L - 5000000L / 9L, 666666L)), s"${got("skew")}")
  }
}
