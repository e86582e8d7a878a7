package graft.operators

import graft.SparkSpec

/** dedup_winnow_candidates: the MOSS guarantee (any verbatim run of
  * >= w+k-1 = 8 words shares at least one window-minimum fingerprint)
  * must hold unconditionally, and pairs with no shared 5-gram must
  * never surface.
  */
class WinnowCandidatesSpec extends SparkSpec {

  private def candidates(docs: Seq[(Long, String)]): Map[(Long, Long), Long] = {
    import spark.implicits._
    val dir = graft.TmpDirs.create("graft-winnow")
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Dedup.winnowCandidates.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  test("an 8-word verbatim run is guaranteed a shared fingerprint at ANY position") {
    import org.scalacheck.{Gen, rng}
    val runGen = for {
      run <- Gen.listOfN(8, Gen.oneOf("ra", "rb", "rc")).map(_.mkString(" "))
      pre1 <- Gen.choose(0, 10); pre2 <- Gen.choose(0, 10)
      post1 <- Gen.choose(0, 10); post2 <- Gen.choose(0, 10)
    } yield {
      def noise(n: Int, tag: String) = (0 until n).map(i => s"$tag$i").mkString(" ")
      val d1 = Seq(noise(pre1, "x"), run, noise(post1, "y")).filter(_.nonEmpty).mkString(" ")
      val d2 = Seq(noise(pre2, "u"), run, noise(post2, "v")).filter(_.nonEmpty).mkString(" ")
      (d1, d2)
    }
    var seed = rng.Seed(13L)
    (1 to 10).foreach { _ =>
      val (d1, d2) = runGen.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      val cands = candidates(Seq((1L, d1), (2L, d2)))
      assert(cands.contains((1L, 2L)),
        s"8-word run missed by winnowing: d1='$d1' d2='$d2'")
    }
  }

  test("docs with no shared 5-gram never pair") {
    val d1 = (1 to 20).map(i => s"a$i").mkString(" ")
    val d2 = (1 to 20).map(i => s"b$i").mkString(" ")
    assert(candidates(Seq((1L, d1), (2L, d2))).isEmpty)
  }

  test("the sf0.001 winnow candidate set covers every >=10-word span pair") {
    // cross-family consistency: spans are longer than the 8-word
    // guarantee, so every span pair must also be a winnow candidate
    val dir = "/root/testdata/sf0.001"
    val spanPairs = Dedup.gramSpans(spark, dir)
      .select("ia", "ib").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val winnowPairs = Dedup.winnowCandidates.run(spark, dir)
      .select("ia", "ib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(spanPairs.subsetOf(winnowPairs),
      s"span pairs missing from winnow candidates: ${spanPairs -- winnowPairs}")
  }
}
