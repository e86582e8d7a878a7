package graft.functions

import graft.SparkSpec

/** text_bigram_lm_quality: source-level scores match a pure-Scala
  * add-one-smoothed bigram model exactly, docs without bigrams drop
  * from the roster, and within-doc bigram multiplicity weights the
  * average.
  */
class BigramLmSpec extends SparkSpec {

  test("integer LM scores match the scalar model") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "x y x y x", "a"),
      (2L, "x y", "a"),
      (3L, "z", "b"),          // no bigram → contributes only to vocab
      (4L, "y y y", "b"))
    val dir = graft.TmpDirs.create("graft-lm")
    corpus.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // scalar model
    val toks = corpus.map { case (id, t, src) => (id, src, t.split(" ").toSeq) }
    val bigrams = toks.flatMap { case (id, src, ts) =>
      ts.sliding(2).collect { case Seq(a, b) => (id, src, (a, b)) } }
    val cb = bigrams.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val c1 = cb.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = toks.flatMap(_._3).distinct.size.toLong
    val docScore = bigrams.groupBy(x => (x._1, x._2)).view.mapValues { bs =>
      val ppms = bs.map(b => 1000000L * (cb(b._3) + 1) / (c1(b._3._1) + v))
      ppms.sum / ppms.size
    }.toMap
    val want = docScore.groupBy(_._1._2).map { case (src, ds) =>
      val scores = ds.values.toSeq
      src -> (ds.size.toLong, scores.sum / scores.size, scores.min, scores.max)
    }

    val got = TextAnalysis.bigramLmQuality.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got == want, s"got $got want $want")
    assert(!got.keySet.exists(_ == "missing") && got("b")._1 == 1L,
      "doc 3 (no bigrams) must not count toward source b's roster")
  }
}
