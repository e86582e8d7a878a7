package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** dedup_duplicate_spans: the gaps-and-islands fold must merge matched
  * 5-gram positions into MAXIMAL spans (one row per shared run, never
  * one per gram), report exact start positions in both documents, and
  * stay silent below the 10-word threshold.
  */
class DuplicateSpansSpec extends SparkSpec {

  private def spansOf(docs: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val dir = graft.TmpDirs.create("graft-spans")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Dedup.duplicateSpans.run(spark, dir)
      .as[(Long, Long, Int, Int, Long)].collect().toList
  }

  test("a single shared 12-word run yields ONE maximal span row with exact positions") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    // doc 1: 5 words prefix + shared; doc 2: 2 words prefix + shared + suffix
    val d1 = "a1 a2 a3 a4 a5 " + shared
    val d2 = "b1 b2 " + shared + " b3 b4"
    val rows = spansOf(Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"))
    assert(rows == List((1L, 2L, 6, 3, 12L)),
      s"expected one maximal span (1,2,6,3,12), got $rows")
  }

  test("9 shared words stay below the 10-word reporting threshold") {
    import spark.implicits._
    val shared = (1 to 9).map(i => s"s$i").mkString(" ")
    val rows = spansOf(Seq(
      (1L, "a1 a2 " + shared), (2L, shared + " b1 b2")).toDF("doc_id", "text"))
    assert(rows.isEmpty, s"expected no span >= 10 words, got $rows")
  }

  test("two disjoint shared runs in the same pair yield two separate spans") {
    import spark.implicits._
    val r1 = (1 to 10).map(i => s"x$i").mkString(" ")
    val r2 = (1 to 11).map(i => s"y$i").mkString(" ")
    // different separators between the runs so the runs cannot bridge
    val d1 = r1 + " p q r " + r2
    val d2 = r2 + " u v " + r1
    val rows = spansOf(Seq((1L, d1), (2L, d2)).toDF("doc_id", "text"))
    assert(rows == List((1L, 2L, 1, 14, 10L), (1L, 2L, 14, 1, 11L)),
      s"expected the two maximal runs with cross positions, got $rows")
  }

  test("a doc repeated verbatim reports the full-document span") {
    import spark.implicits._
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val rows = spansOf(Seq((1L, text), (2L, text)).toDF("doc_id", "text"))
    assert(rows == List((1L, 2L, 1, 1, 40L)), s"got $rows")
  }
}

/** pipeline_span_dedup_cut: the cut must empty verbatim duplicates,
  * remove exactly the covered positions from the later doc, and leave
  * the earlier doc untouched.
  */
class SpanDedupCutSpec extends SparkSpec {

  private def md5Of(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("later doc loses exactly the shared span; earlier doc keeps everything") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val d1 = "a1 a2 a3 " + shared                 // doc 1 keeps its copy
    val d2 = "b1 b2 " + shared + " b3"            // doc 2 loses the span
    val d3 = d1                                   // verbatim dup of doc 1 → emptied
    val dir = graft.TmpDirs.create("graft-spancut")
    Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.spanDedupCut.run(spark, dir)
      .as[(Long, Long, Long, String)].collect().toList
    assert(rows == List(
      (1L, 15L, 0L, md5Of(d1)),
      (2L, 15L, 12L, md5Of("b1 b2 b3")),
      (3L, 15L, 15L, md5Of(""))), s"got $rows")
  }
}

/** dedup_minhash_sketch_merge: merging per-shard partial sketches by
  * element-wise min must reproduce the direct unsharded sketch exactly,
  * for any shard split.
  */
class SketchMergeSpec extends SparkSpec {

  test("merged shard partials equal the direct minhash signature on the sf0.001 corpus") {
    val dir = "/root/testdata/sf0.001"
    val sh = Dedup.shingleSurface(spark, dir)
    val direct = Dedup.minhashOf(sh)
      .select(col("doc_id"),
        md5(concat_ws(",", (0 until 16).map(i => col(s"h$i")): _*).cast("binary")).as("sig"))
    val merged = Dedup.minhashSketchMerge.run(spark, dir)
    assert(merged.join(direct, Seq("doc_id", "sig"), "inner").count() == direct.count(),
      "sharded-merge signature diverged from the direct sketch")
  }
}
