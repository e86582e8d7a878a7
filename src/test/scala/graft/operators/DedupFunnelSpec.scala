package graft.operators

import graft.SparkSpec

/** pipeline_dedup_funnel: exact stage keeps the smallest doc_id per
  * hash, near-dup stage drops the later pair side among exact
  * survivors, retained ppm tracks token mass.
  */
class DedupFunnelSpec extends SparkSpec {

  test("stage survival on a corpus with exact and near dups") {
    import spark.implicits._
    val base = Seq.tabulate(40)(i => s"t$i").mkString(" ")       // 40 tokens
    val near = (Seq.tabulate(38)(i => s"t$i") ++ Seq("x", "y")).mkString(" ")
    val uniq = Seq.tabulate(40)(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base),   // exact dup pair → drop 2 at stage 1
      (3L, base2(base)), (4L, base2(near)), // near pair → drop 4 at stage 2
      (5L, uniq))
    val dir = graft.TmpDirs.create("graft-funneld")
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = PipelineCompositions.dedupFunnel.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("0_corpus")._1 == 5L)
    assert(got("1_exact")._1 == 4L, s"exact stage: $got")
    assert(got("2_neardup")._1 <= 3L && got("2_neardup")._1 >= 2L,
      s"near stage must drop doc 4 (and possibly 3's twin side): $got")
    // monotone mass, ppm anchored at the corpus row
    assert(got("0_corpus")._3 == 1000000L)
    assert(got("1_exact")._2 <= got("0_corpus")._2 &&
      got("2_neardup")._2 <= got("1_exact")._2)
  }

  // doc 3/4 share a long prefix but differ from doc 1/2's text enough
  // to not be exact dups of them (prepend a marker token)
  private def base2(t: String): String = "m0 " + t
}
