package graft.operators

import graft.SparkSpec

/** sample_weighted_pps: inclusion is weight-monotone and certain for
  * any document carrying >= 1/k of the corpus mass (k·w ≥ W ⇒ the
  * integer predicate v·W < k·w·16⁶ holds for every v < 16⁶), and the
  * realized global pick count sits in the Poisson(k) bulk.
  */
class WeightedPpsSpec extends SparkSpec {

  test("a document with >= 1/k of the corpus mass is always picked") {
    import spark.implicits._
    val dir = graft.TmpDirs.create("graft-pps")
    // giant doc: 10_000 chars of 1_990 total extra → far above W/100
    val docs = (1 to 199).map(i => (i.toLong, "small", 10L)) :+ (999L, "giant", 10000L)
    docs.toDF("doc_id", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val bySource = ScalePatterns.weightedPps.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(bySource("giant") == ((1L, 1L)),
      s"giant doc must be picked with certainty, got ${bySource("giant")}")
  }

  test("realized pick count on the driver corpus sits in the Poisson(100) bulk") {
    val rows = ScalePatterns.weightedPps.run(spark, "/root/testdata/sf0.001").collect()
    val picks = rows.map(_.getLong(3)).sum
    // Poisson(100): P(|X-100| > 50) < 1e-5; a deterministic hash draw far
    // outside means the uniform derivation is broken, not bad luck
    assert(picks > 50 && picks < 150, s"global PPS picks $picks far from k=100")
  }
}
