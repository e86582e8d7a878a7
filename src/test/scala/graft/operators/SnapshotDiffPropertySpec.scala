package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Fuzzes corpus_snapshot_diff against a scalar classification over
  * random doc_id populations (all residues mod 10 exercised, short
  * texts where the half-truncation degenerates).
  */
class SnapshotDiffPropertySpec extends SparkSpec {

  private val gen: Gen[List[(Long, String, String)]] = for {
    n <- Gen.choose(3, 20)
    ids <- Gen.pick(n, 1L to 60L)
    rows <- Gen.sequence[List[(String, String)], (String, String)](List.fill(n)(for {
      len <- Gen.choose(0, 8)
      toks <- Gen.listOfN(len, Gen.oneOf("x", "y"))
      src <- Gen.oneOf("s1", "s2")
    } yield (toks.mkString(" "), src)))
  } yield ids.toList.zip(rows).map { case (id, (t, src)) => (id, t, src) }

  private def classify(id: Long, text: String): String = {
    val inV1 = id % 10 != 7
    val inV2 = id % 10 != 9
    if (!inV1 && inV2) "added"
    else if (inV1 && !inV2) "removed"
    else {
      val v1Text = if (id % 10 == 3) text.substring(0, text.length / 2) else text
      if (v1Text == text) "unchanged" else "changed"
    }
  }

  test("classification matches the scalar reference on random populations") {
    import spark.implicits._
    var seed = Seed(71L)
    (1 to 8).foreach { _ =>
      val docs = gen.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      val dir = graft.TmpDirs.create("graft-sdf")
      docs.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val want = docs.groupBy(_._3).map { case (src, ds) =>
        val cls = ds.map(d => classify(d._1, d._2))
        src -> (cls.count(_ == "added").toLong, cls.count(_ == "removed").toLong,
          cls.count(_ == "changed").toLong, cls.count(_ == "unchanged").toLong)
      }
      val got = CorpusOps.snapshotDiff.run(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(got == want, s"diff: $got vs $want docs=$docs")
    }
  }
}
