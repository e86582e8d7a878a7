package graft.operators

import graft.SparkSpec

/** pipeline_quality_dup_calibration: planted verbatim duplicates in the
  * low-quality band, unique rich docs in a higher band.
  */
class QualityDupCalibrationSpec extends SparkSpec {

  test("low-quality duplicate band shows dup_ppm 1e6; unique band 0") {
    import spark.implicits._
    val dupText = "spam spam spam spam"     // 4 tokens, 1 distinct: low quality
    val docs =
      (1L to 3L).map(id => (id, dupText, "s")) ++       // verbatim dups
        (10L to 12L).map(id =>                           // disjoint vocabularies
          (id, (1 to 120).map(i => s"tok${id}_$i").mkString(" "), "s"))
    val dir = graft.TmpDirs.create("graft-qdc")
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = PipelineCompositions.qualityDupCalibration.run(spark, dir).collect()
      .map(r => r.getAs[Long]("band") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_dup"), r.getAs[Long]("dup_ppm"))).toMap
    // dup docs: quality = .5*4/100 + .3*1/4 + 0 = 0.095 -> band 0
    assert(rows(0L) == ((3L, 3L, 1000000L)), s"$rows")
    // rich docs: ~118-120 distinct tokens, length saturated: band >= 7, no dups
    val richBands = rows.filterNot(_._1 == 0L)
    assert(richBands.values.map(_._1).sum == 3L)
    assert(richBands.values.forall(v => v._2 == 0L && v._3 == 0L), s"$rows")
  }
}
