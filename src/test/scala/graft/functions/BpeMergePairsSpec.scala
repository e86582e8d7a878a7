package graft.functions

import graft.SparkSpec

/** text_bpe_merge_pairs: pair counts are word-frequency-weighted (the
  * dict shape), overlapping pairs within a word all count, and 1-char
  * words contribute nothing.
  */
class BpeMergePairsSpec extends SparkSpec {

  test("dict-weighted overlapping pair counts") {
    import spark.implicits._
    // "aaa" appears 3× → pairs: "aa"×2 per occurrence-word... but the
    // dict shape counts per DISTINCT word times its frequency: aa = 2·3.
    // "ab" 2× → ab = 2. "b" contributes nothing.
    val docs = Seq(
      (1L, "aaa ab b"),
      (2L, "aaa ab"),
      (3L, "aaa"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.TmpDirs.create("graft-bpe")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = TextAnalysis.bpeMergePairs.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("aa", 6L), ("ab", 2L)), s"got $got")
  }
}
