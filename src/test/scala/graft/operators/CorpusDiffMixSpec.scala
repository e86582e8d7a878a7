package graft.operators

import graft.SparkSpec

/** pipeline_temperature_mixture + corpus_snapshot_diff. */
class CorpusDiffMixSpec extends SparkSpec {

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = graft.TmpDirs.create("graft-cdm")
    rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("temperature mixture: integer sqrt exact, compression toward uniform") {
    // source a: 16 tokens (perfect square); b: 255 tokens (isqrt 15 — the
    // double sqrt of 255 is 15.968…, floor 15, correction must not bump);
    // c: 10000 tokens
    def words(n: Int): String = Seq.fill(n)("w").mkString(" ")
    val dir = writeDocs(Seq(
      (1L, words(16), "a"), (2L, words(255), "b"), (4L, words(10000), "c")))
    val rows = CorpusOps.temperatureMixture.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("tokens"),
        r.getAs[Long]("natural_ppm"), r.getAs[Long]("temp_weight_ppm"),
        r.getAs[Long]("alloc_tokens"))).toMap

    def isqrt(n: Long): Long = { val s = math.sqrt(n.toDouble).toLong
      if ((s + 1) * (s + 1) <= n) s + 1 else if (s * s > n) s - 1 else s }
    val toks = Map("a" -> 16L, "b" -> 255L, "c" -> 10000L)
    val sumT = toks.values.sum; val sumS = toks.values.map(isqrt).sum
    toks.foreach { case (src, n) =>
      val (t, nat, temp, alloc) = rows(src)
      assert(t == n)
      assert(nat == n * 1000000L / sumT)
      assert(temp == isqrt(n) * 1000000L / sumS, s"temp weight wrong for $src")
      assert(alloc == (sumT / 2) * isqrt(n) / sumS)
    }
    // temperature compresses: the dominant source's share shrinks, the
    // smallest source's share grows
    assert(rows("c")._3 < rows("c")._2 && rows("a")._3 > rows("a")._2)
    // allocations never exceed the half-epoch budget
    assert(rows.values.map(_._4).sum <= sumT / 2)
  }

  test("snapshot diff classifies added/removed/changed/unchanged per source") {
    val dir = writeDocs(Seq(
      (1L, "stable text", "a"),     // unchanged
      (13L, "edited full text", "a"), // %10=3 → v1 has the half-truncation → changed
      (7L, "new doc", "a"),         // %10=7 → absent from v1 → added
      (19L, "gone doc", "b"),       // %10=9 → absent from v2 → removed
      (22L, "stable too", "b")))    // unchanged
    val got = CorpusOps.snapshotDiff.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got("a") == ((1L, 0L, 1L, 1L)), s"source a wrong: ${got("a")}")
    assert(got("b") == ((0L, 1L, 0L, 1L)), s"source b wrong: ${got("b")}")
  }
}
