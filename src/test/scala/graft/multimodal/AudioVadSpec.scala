package graft.multimodal

import graft.SparkSpec

/** mm_audio_energy_vad: window energies, the 9000 mean-square threshold,
  * lead/tail trim math, and the all-silent / partial-window edges.
  */
class AudioVadSpec extends SparkSpec {

  test("VAD trim windows on handcrafted PCM") {
    import spark.implicits._
    val sil = " " * 32            // 32² = 1024 < 9000 → silent
    val loud = "z" * 32           // 122² = 14884 ≥ 9000 → voiced
    val docs = Seq(
      (1L, sil + loud + sil),     // silent, voiced, silent
      (4L, sil + sil),            // all silent
      (7L, loud + "z" * 16),      // voiced + voiced partial window
      (2L, loud))                 // %3=2 → video, must not appear
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.TmpDirs.create("graft-vad")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = MultimodalOps.audioVad.run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.keySet == Set(1L, 4L, 7L), s"roster wrong: ${got.keySet}")
    assert(got(1L) == ((3L, 1L, 1L, 1L)), s"clip 1: ${got(1L)}")
    assert(got(4L) == ((2L, 0L, 2L, 0L)), s"all-silent clip: ${got(4L)}")
    assert(got(7L) == ((2L, 2L, 0L, 0L)), s"partial window clip: ${got(7L)}")
  }
}
