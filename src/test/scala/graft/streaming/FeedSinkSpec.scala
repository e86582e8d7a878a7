package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.streaming.sink.{FeedFileCommit, FeedStreamingWrite}
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The custom DSv2 streaming sink: end-to-end delivery through the
  * engine, and the two-phase epoch-commit protocol's idempotence/abort
  * semantics driven directly.
  */
class FeedSinkSpec extends SparkSpec {

  import spark.implicits._

  private def readAll(dir: String): Set[String] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.toString.contains("_tmp")
        && !p.getFileName.toString.startsWith("_"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSet

  test("streams values into epoch-committed files via the engine") {
    val base = graft.TmpDirs.create("graft-feedsink")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    ms.addData("a", "b", "c")
    val q = ms.toDF().select(col("value"))
      .writeStream.format("npm-feed-sink")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      q.processAllAvailable()
      ms.addData("d")
      q.processAllAvailable()
      assert(readAll(s"$base/out") == Set("a", "b", "c", "d"))
      // each epoch landed under its own committed directory
      assert(Files.list(Paths.get(s"$base/out")).iterator().asScala
        .count(_.getFileName.toString.startsWith("epoch=")) >= 2)
    } finally q.stop()
  }

  test("epoch commit is idempotent and abort cleans temp files") {
    val base = graft.TmpDirs.create("graft-feedsink2")
    val w = new FeedStreamingWrite(base, valueIdx = 0)
    def tempWith(name: String, lines: Seq[String]): WriterCommitMessage = {
      val d = Paths.get(base, "_tmp"); Files.createDirectories(d)
      val f = d.resolve(name)
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      FeedFileCommit(f.toString)
    }
    // first attempt of epoch 7 commits two files
    w.commit(7, Array(tempWith("p0.jsonl", Seq("x")), tempWith("p1.jsonl", Seq("y"))))
    assert(readAll(base) == Set("x", "y"))
    // the epoch is RE-RUN (crash before checkpoint): its replacement
    // attempt produced different partitioning — commit replaces, never appends
    w.commit(7, Array(tempWith("p0-retry.jsonl", Seq("x", "y"))))
    assert(readAll(base) == Set("x", "y"))
    assert(Files.list(Paths.get(base, "epoch=7")).iterator().asScala.size == 1)
    // abort deletes speculative files without touching committed epochs
    val doomed = tempWith("p9.jsonl", Seq("z"))
    w.abort(8, Array(doomed))
    assert(!Files.exists(Paths.get(doomed.asInstanceOf[FeedFileCommit].tempFile)))
    assert(readAll(base) == Set("x", "y"))
  }

  test("dropped tombstones are counted in the epoch manifest, not lost silently") {
    val base = graft.TmpDirs.create("graft-feedsink4")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    // "DEL:x" becomes a NULL value — the Kafka-tombstone shape
    ms.addData("a", "DEL:p1", "b", "DEL:p2")
    val q = ms.toDF()
      .select(when(!col("value").startsWith("DEL:"), col("value")).as("value"))
      .writeStream.format("npm-feed-sink")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      q.processAllAvailable()
      assert(readAll(s"$base/out") == Set("a", "b"))
      val manifests = Files.walk(Paths.get(s"$base/out")).iterator().asScala
        .filter(_.getFileName.toString == "_dropped_tombstones").toList
      assert(manifests.nonEmpty, "no _dropped_tombstones manifest written")
      assert(manifests.map(f => Files.readAllLines(f).asScala.head.toLong).sum == 2L)
    } finally q.stop()
  }

  test("rejects a schema without a value string column") {
    val base = graft.TmpDirs.create("graft-feedsink3")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    val ex = intercept[Exception] {
      val q = ms.toDF().select(col("value").as("seq")) // no 'value' column
        .writeStream.format("npm-feed-sink")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
      try { ms.addData(1L); q.processAllAvailable() } finally q.stop()
    }
    assert(ex.getMessage.contains("value"))
  }
}
