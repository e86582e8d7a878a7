package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Fuzzes text_gini_diversity and text_novelty_score against scalar
  * references on random low-vocab corpora (forced token collisions and
  * cross-doc shared grams).
  */
class TextStatsPropertySpec extends SparkSpec {

  private val gen: Gen[List[(Long, String, String)]] = for {
    nDocs <- Gen.choose(2, 6)
    docs <- Gen.listOfN(nDocs, for {
      len <- Gen.choose(1, 14)
      toks <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))
      src <- Gen.oneOf("s1", "s2")
    } yield (toks.mkString(" "), src))
  } yield docs.zipWithIndex.map { case ((t, src), i) => (i.toLong + 1, t, src) }

  test("gini and novelty match scalar references on random corpora") {
    import spark.implicits._
    var seed = Seed(61L)
    (1 to 8).foreach { _ =>
      val docs = gen.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      val dir = graft.TmpDirs.create("graft-tsf")
      docs.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      // scalar gini per source
      val bySrc = docs.groupBy(_._3)
      val wantGini = bySrc.map { case (src, ds) =>
        val toks = ds.flatMap(_._2.split(" "))
        val counts = toks.groupBy(identity).view.mapValues(_.size.toLong)
        val n = toks.size.toLong
        val ssq = counts.values.map(c => c * c).sum
        src -> (n, counts.size.toLong, 1000000L - ssq * 1000000L / (n * n),
          counts.values.max * 1000000L / n)
      }
      val gotGini = TextAnalysis.giniDiversity.run(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(gotGini == wantGini, s"gini: $gotGini vs $wantGini docs=$docs")

      // scalar novelty per source (docs with ≥5 tokens only)
      val grams = docs.flatMap { case (id, t, src) =>
        val ts = t.split(" ")
        if (ts.length < 5) Nil
        else ts.sliding(5).map(g => (id, src, g.mkString(" "))).toList
      }
      val df = grams.groupBy(_._3).view.mapValues(_.size.toLong).toMap
      val perDoc = grams.groupBy(g => (g._1, g._2)).map { case ((_, src), gs) =>
        (src, gs.size.toLong, gs.count(g => df(g._3) == 1L).toLong)
      }
      val wantNov = perDoc.groupBy(_._1).map { case (src, ds) =>
        val scores = ds.map(d => d._3 * 1000000L / d._2)
        src -> (ds.size.toLong,
          ds.map(_._3).sum * 1000000L / ds.map(_._2).sum, scores.min)
      }
      val gotNov = TextAnalysis.noveltyScore.run(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(gotNov == wantNov, s"novelty: $gotNov vs $wantNov docs=$docs")
    }
  }
}
