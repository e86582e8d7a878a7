package graft.functions

import graft.SparkSpec

/** text_bpe_apply_merge: one training iteration on a corpus whose top
  * merge, replacement count, and post-merge pair table are all
  * hand-computable — including the merged-symbol pairs BPE needs.
  */
class BpeApplySpec extends SparkSpec {

  test("top pair merges greedily and the re-mined table sees the new symbol") {
    import spark.implicits._
    // dict: abab x3, abc x2 -> pair counts ab=8, ba=3, bc=2 -> merge 'ab'
    val docs = Seq(
      (1L, "abab abab abc", "s"),
      (2L, "abab abc", "s"))
    val dir = graft.TmpDirs.create("graft-bpeapply")
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextAnalysis.bpeApplyMerge.run(spark, dir).collect()
    assert(rows.forall(_.getAs[String]("merged_pair") == "ab"))
    // abab -> '@@' (2 chars dropped x3 words), abc -> '@c' (1 x2)
    assert(rows.forall(_.getAs[Long]("n_replaced") == 8L))
    val pairs = rows.map(r => r.getAs[String]("pair") -> r.getAs[Long]("n")).toMap
    assert(pairs == Map("@@" -> 3L, "@c" -> 2L), s"$pairs")
  }
}
