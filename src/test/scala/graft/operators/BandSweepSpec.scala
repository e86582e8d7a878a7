package graft.operators

import graft.SparkSpec

/** dedup_lsh_band_sweep: a verbatim duplicate (identical signatures ⇒
  * identical band keys under EVERY layout) is caught by all three arms
  * with estimated Jaccard 16/16; unrelated docs produce no pairs.
  */
class BandSweepSpec extends SparkSpec {

  test("verbatim dup detected by every layout; disjoint docs never pair") {
    import spark.implicits._
    val dup = Seq.tabulate(30)(i => s"d$i").mkString(" ")
    val docs = Seq(
      (1L, dup), (2L, dup)) ++
      (3L to 6L).map(id => id -> Seq.tabulate(30)(i => s"u${id}_$i").mkString(" "))
    val dir = graft.TmpDirs.create("graft-sweep")
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = Dedup.lshBandSweep.run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got.keySet == Set(2L, 4L, 8L))
    assert(got(2L) == ((8L, 1L, 1L, 1000000L)), s"2x8: ${got(2L)}")
    assert(got(4L) == ((4L, 1L, 1L, 1000000L)), s"4x4: ${got(4L)}")
    assert(got(8L) == ((2L, 1L, 1L, 1000000L)), s"8x2: ${got(8L)}")
  }
}
