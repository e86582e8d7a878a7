package graft.operators

import graft.SparkSpec

/** pipeline_split_leakage_audit: a near-dup pair straddling the
  * train/val boundary is reported as a leak; same-split pairs are not.
  */
class SplitLeakageSpec extends SparkSpec {

  private def md5hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
  private def splitOf(id: Long): String = {
    val h2 = md5hex(s"split:$id").take(2)
    if (h2 < "fa") "train" else if (h2 < "fd") "val" else "test"
  }

  test("cross-split near-dup pair flags as leakage") {
    import spark.implicits._
    val trainIds = (1L to 500L).filter(splitOf(_) == "train")
    val valId = (1L to 500L).find(splitOf(_) == "val").get
    // one verbatim duplicate across train/val (the leak), one within
    // train (benign), plus distinct filler so LSH has a corpus
    val dupText = Seq.tabulate(40)(i => s"tok$i").mkString(" ")
    val benign = Seq.tabulate(40)(i => s"oth$i").mkString(" ")
    val docs = Seq(
      (trainIds(0), dupText), (valId, dupText),
      (trainIds(1), benign), (trainIds(2), benign)) ++
      trainIds.drop(3).take(4).zipWithIndex.map { case (id, k) =>
        (id, Seq.tabulate(40)(i => s"w${k}_$i").mkString(" ")) }
    val dir = graft.TmpDirs.create("graft-leak")
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = PipelineCompositions.splitLeakage.run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got(("train", "val")) == ((1L, true)), s"leak row wrong: $got")
    assert(got(("train", "train"))._2 == false && got(("train", "train"))._1 >= 1L,
      s"benign same-split pair wrong: $got")
  }
}
