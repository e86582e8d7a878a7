package graft.operators

import graft.SparkSpec

/** pipeline_pack_sequences: boundary-crossing detection, bin count, and
  * tail waste against a scalar replay of the same salted order.
  */
class PackSequencesSpec extends SparkSpec {

  private def md5hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("concat-and-split audit matches a scalar replay") {
    import spark.implicits._
    // 40 docs with token counts 100·(1..40); the salted order decides
    // which cross a 4096 boundary — replay it exactly in Scala.
    val toks = (1 to 40).map(i => i.toLong -> (i * 100)).toMap
    val docs = toks.toSeq.map { case (id, n) =>
      (id, Seq.fill(n)("w").mkString(" "), "en", "s", n.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.TmpDirs.create("graft-pack")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // scalar replay
    case class Agg(var nDocs: Long = 0, var total: Long = 0, var split: Long = 0)
    val byShard = scala.collection.mutable.Map.empty[String, Agg]
    toks.keys.toSeq
      .map(id => (md5hex(s"s:$id").take(1), md5hex(s"o:$id"), id))
      .groupBy(_._1)
      .foreach { case (shard, ds) =>
        val a = byShard.getOrElseUpdate(shard, Agg())
        var cum = 0L
        ds.sortBy(d => (d._2, d._3)).foreach { case (_, _, id) =>
          val t = toks(id).toLong
          cum += t
          a.nDocs += 1; a.total = cum
          if ((cum - t) / 4096 != (cum - 1) / 4096) a.split += 1
        }
      }

    val got = CorpusOps.packSequences.run(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == byShard.keySet)
    byShard.foreach { case (shard, a) =>
      val bins = (a.total + 4095) / 4096
      assert(got(shard) == ((a.nDocs, a.total, bins, a.split, bins * 4096 - a.total)),
        s"shard $shard: ${got(shard)} want ${(a.nDocs, a.total, bins, a.split, bins * 4096 - a.total)}")
    }
  }
}
