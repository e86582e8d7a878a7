package graft.operators

import scala.util.Random

import graft.SparkSpec

/** search_tf_saturation fuzzed against a scalar BigInt reference;
  * search_hybrid_rrf pinned on a constructed corpus where both arms'
  * ranks are known in advance.
  */
class SearchRankSpec extends SparkSpec {

  private val terms = Seq("vector", "stream", "spark")
  private val filler = Seq("alpha", "beta", "gamma", "delta")

  private def writeDocs(dir: String, docs: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("tf saturation matches a scalar BigInt BM25-core reference (fuzz)") {
    val rnd = new Random(20260814)
    for (round <- 1 to 3) {
      val docs = (0L until 40L).map { id =>
        val words = Seq.fill(1 + rnd.nextInt(30))(
          if (rnd.nextInt(3) == 0) terms(rnd.nextInt(terms.size))
          else filler(rnd.nextInt(filler.size)))
        (id, words.mkString(" "), s"s${id % 3}")
      }
      val dir = graft.TmpDirs.create(s"graft-sr$round")
      writeDocs(dir, docs)

      // scalar reference: exactly the cleared-denominator integer formula
      val split = docs.map { case (id, t, src) => (id, src, t.split(" ").toSeq) }
      val n = BigInt(split.size)
      val avgdl = split.map(_._3.size).map(BigInt(_)).sum / n
      val dfOf = terms.map(t => t -> BigInt(split.count(_._3.contains(t)))).toMap
      val expected = split.flatMap { case (id, src, ws) =>
        val dl = BigInt(ws.size)
        val hits = terms.map(t => t -> BigInt(ws.count(_ == t))).filter(_._2 > 0)
        if (hits.isEmpty) None
        else {
          val score = hits.map { case (t, tf) =>
            val rarity = (BigInt(1000000) * (n - dfOf(t))) / (dfOf(t) + 1)
            val tfsat = (BigInt(22) * tf * avgdl * 1000000) /
              (BigInt(10) * tf * avgdl + 3 * avgdl + 9 * dl)
            (rarity * tfsat) / 1000000
          }.sum
          Some((id, src, hits.size.toLong, score.toLong))
        }
      }.sortBy { case (id, _, _, sc) => (-sc, id) }.take(20)

      val got = SearchRank.tfSaturation.run(spark, dir).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
          r.getAs[Long]("n_terms_hit"), r.getAs[Long]("score_ppm")))
      assert(got.toSeq == expected, s"round $round")
    }
  }

  test("rrf fuses known arm ranks: doc top of both arms dominates") {
    import spark.implicits._
    // doc 1 saturates the keyword arm (most term hits); embeddings make
    // vec 1 the closest to the query vec 0, vec 2 second, vec 3 opposite.
    val docs = Seq(
      // doc 0 IS the query doc and has MORE term hits than anyone —
      // the exclusion must keep it out of both arms, not just the
      // semantic one (review fix: kw arm previously admitted it)
      (0L, Seq.fill(7)("vector").mkString(" "), "s"),
      (1L, "vector stream spark vector stream spark", "s"),
      (2L, "vector alpha", "s"),
      (3L, "alpha beta gamma", "s"))
    val dir = graft.TmpDirs.create("graft-rrf")
    writeDocs(dir, docs)
    Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.5f, 0.5f), 0),
      (3L, Array(-1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val rows = SearchRank.hybridRrf.run(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), Option(r.getAs[java.lang.Long]("kw_rank")),
        Option(r.getAs[java.lang.Long]("sem_rank")), r.getAs[Long]("rrf_ppm")))
    // kw arm: doc1 (6 hits) rank 1, doc2 (1 hit) rank 2; docs 0/3 absent.
    // sem arm (vs vec 0): vec1 rank 1, vec2 rank 2, vec3 rank 3.
    val byDoc = rows.map(r => r._1 -> r).toMap
    assert(byDoc(1L) == ((1L, Some(1L), Some(1L), 1000000L / 61 * 2)))
    assert(byDoc(2L) == ((2L, Some(2L), Some(2L), 1000000L / 62 * 2)))
    assert(byDoc(3L) == ((3L, None, Some(3L), 1000000L / 63)))
    assert(!byDoc.contains(0L), "query doc itself must not appear")
    // fusion order: both-arms docs above the single-arm doc
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
  }
}
