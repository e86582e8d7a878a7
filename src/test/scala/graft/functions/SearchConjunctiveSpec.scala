package graft.functions

import graft.SparkSpec

/** text_search_conjunctive: only docs containing ALL query terms
  * surface, ranked by total tf with doc_id tie-break.
  */
class SearchConjunctiveSpec extends SparkSpec {

  test("AND semantics and tf ranking") {
    import spark.implicits._
    val docs = Seq(
      (1L, "vector stream spark vector"),        // all 3, tf_total 4
      (2L, "vector stream spark"),               // all 3, tf_total 3
      (3L, "vector vector vector stream"),       // missing spark → out
      (4L, "spark spark stream vector spark"),   // all 3, tf_total 5
      (5L, "other words only"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.TmpDirs.create("graft-search")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = TextAnalysis.searchConjunctive.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("tf_total")))
    assert(got.toSeq == Seq((4L, 5L), (1L, 4L), (2L, 3L)), s"got ${got.toSeq}")
  }
}
