package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.npm.Fixtures
import org.apache.spark.sql.functions._

/** The custom DataSource V2 MicroBatchStream (S1's "real impl"): short
  * name registration, batch delivery, checkpointed resume that consumes
  * only files added after the last committed offset, and parity with the
  * built-in file source through the full pipeline.
  */
class ChangesFeedSourceSpec extends SparkSpec {

  import spark.implicits._

  private def writeFeed(dir: String, lines: Seq[String], name: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
  }

  private def source(dir: String) =
    spark.readStream.format("npm-changes-feed").option("path", dir).load()

  test("drives the full pipeline with the same outputs as the file source") {
    val base = graft.TmpDirs.create("graft-feedsrc")
    writeFeed(s"$base/feed", Fixtures.withFetch404, "changes-000.jsonl")
    val q = NpmStream.start(spark, source(s"$base/feed"),
      outDir = s"$base/out", checkpointDir = s"$base/ckpt",
      fetcher = Fixtures.RoutingFetcher)
    q.awaitTermination()
    val catalog = spark.read.parquet(s"$base/out/catalog")
    assert(catalog.select("change_seq_id").as[Long].collect().toSet
      == Set(1L, 2L, 3L, 4L, 8L, 13L))
    assert(spark.read.parquet(s"$base/out/skipped")
      .filter(col("seq").isNotNull).count() == 6)
  }

  test("restart resumes from the checkpointed offset: only NEW files are read") {
    val base = graft.TmpDirs.create("graft-feedsrc2")
    val feed = s"$base/feed"
    writeFeed(feed, Fixtures.withFetch404, "changes-000.jsonl")
    NpmStream.start(spark, source(feed), s"$base/out", s"$base/ckpt",
      Fixtures.RoutingFetcher).awaitTermination()
    val afterFirst = spark.read.parquet(s"$base/out/catalog").count()

    // second run over an unchanged directory: offset says all consumed
    NpmStream.start(spark, source(feed), s"$base/out", s"$base/ckpt",
      Fixtures.RoutingFetcher).awaitTermination()
    assert(spark.read.parquet(s"$base/out/catalog").count() == afterFirst)

    // a new file arrives; restart consumes exactly that one
    writeFeed(feed, Seq(
      """{"seq":30,"id":"newpkg","doc":{"_id":"newpkg","_rev":"1-z","name":"newpkg","dist-tags":{"latest":"1.0.0"},"versions":{"1.0.0":{"version":"1.0.0","dist":{"tarball":"http://r/n.tgz","unpackedSize":5,"shasum":"s"}}},"time":{"1.0.0":"2023-03-01T00:00:00.000Z","created":"2023-03-01T00:00:00.000Z","modified":"2023-03-01T00:00:00.000Z"}}}"""),
      "changes-001.jsonl")
    NpmStream.start(spark, source(feed), s"$base/out", s"$base/ckpt",
      Fixtures.RoutingFetcher).awaitTermination()
    val catalog = spark.read.parquet(s"$base/out/catalog")
    assert(catalog.count() == afterFirst + 1)
    assert(catalog.filter(col("change_seq_id") === 30).count() == 1)
    // and nothing got double-delivered across the three runs
    assert(catalog.groupBy("change_seq_id").count().filter(col("count") > 1).count() == 0)
  }

  test("offset arithmetic: a batch is the seen-set difference; legacy watermarks reify") {
    val base = graft.TmpDirs.create("graft-feedsrc3")
    (0 until 4).foreach(i => writeFeed(base, Seq(s"""{"seq":$i}"""), f"f-$i%03d.jsonl"))
    val stream = new graft.streaming.source.ChangesFeedMicroBatchStream(base)
    assert(stream.initialOffset().json() == "[]")
    assert(stream.latestOffset().json().contains("f-003.jsonl"))
    // r5-era checkpoint offsets were highest-name watermarks: they must
    // parse as "every file at or below the watermark"
    val parts = stream.planInputPartitions(
      stream.deserializeOffset(s"$base/f-000.jsonl"),
      stream.deserializeOffset(s"$base/f-002.jsonl"))
    val names = parts.map(_.asInstanceOf[graft.streaming.source.ChangesFilePartition]
      .file.split("/").last).toSeq.sorted
    assert(names == Seq("f-001.jsonl", "f-002.jsonl"))
  }

  test("legacy watermark parse fails fast when the directory is unlistable") {
    // reifying a watermark against an empty listing would mark the whole
    // feed unconsumed and re-deliver everything after an upgrade restart
    val base = graft.TmpDirs.create("graft-feedsrc7")
    val stream = new graft.streaming.source.ChangesFeedMicroBatchStream(s"$base/missing")
    val ex = intercept[IllegalStateException] {
      stream.deserializeOffset(s"$base/missing/changes-900.jsonl")
    }
    assert(ex.getMessage.contains("refusing to reify"))
  }

  test("a late-sorting file is delivered exactly once; consumed files never re-deliver") {
    val base = graft.TmpDirs.create("graft-feedsrc4")
    writeFeed(base, Seq("""{"seq":10}"""), "f-010.jsonl")
    val stream = new graft.streaming.source.ChangesFeedMicroBatchStream(base)
    val consumed = stream.latestOffset() // seen = {f-010}
    writeFeed(base, Seq("""{"seq":5}"""), "f-005.jsonl") // sorts BELOW every consumed name
    val next = stream.latestOffset()
    val parts = stream.planInputPartitions(consumed, next)
    val names = parts.map(_.asInstanceOf[graft.streaming.source.ChangesFilePartition]
      .file.split("/").last).toSeq
    assert(names == Seq("f-005.jsonl"),
      "the late file is delivered, f-010 is not re-delivered")
    assert(stream.planInputPartitions(next, stream.latestOffset()).isEmpty,
      "second trigger delivers nothing new")
  }

  test("relocated feed directory: relative-name offsets survive the move (no re-delivery)") {
    // consume from dir A through a real checkpoint, then MOVE the feed to
    // dir B and restart pointing at B: the r6 absolute-path offsets would
    // treat every file as unconsumed and re-deliver the whole feed; the
    // relative-name offsets must deliver nothing old and only what's new
    val base = graft.TmpDirs.create("graft-feedsrc8")
    val feedA = s"$base/feedA"
    writeFeed(feedA, Fixtures.withFetch404, "changes-000.jsonl")
    NpmStream.start(spark, source(feedA), s"$base/out", s"$base/ckpt",
      Fixtures.RoutingFetcher).awaitTermination()
    val afterFirst = spark.read.parquet(s"$base/out/catalog").count()

    val feedB = s"$base/feedB"
    Files.createDirectories(Paths.get(feedB))
    Files.move(Paths.get(feedA, "changes-000.jsonl"), Paths.get(feedB, "changes-000.jsonl"))
    // restart against the relocated dir: nothing re-delivered
    NpmStream.start(spark, source(feedB), s"$base/out", s"$base/ckpt",
      Fixtures.RoutingFetcher).awaitTermination()
    assert(spark.read.parquet(s"$base/out/catalog").count() == afterFirst,
      "relocation re-delivered already-consumed files")

    // and a file arriving in the NEW location is consumed exactly once
    writeFeed(feedB, Seq(
      """{"seq":32,"id":"movedpkg","doc":{"_id":"movedpkg","_rev":"1-b","name":"movedpkg","dist-tags":{"latest":"1.0.0"},"versions":{"1.0.0":{"version":"1.0.0","dist":{"tarball":"http://r/m.tgz","unpackedSize":5,"shasum":"s"}}},"time":{"1.0.0":"2023-03-01T00:00:00.000Z","created":"2023-03-01T00:00:00.000Z","modified":"2023-03-01T00:00:00.000Z"}}}"""),
      "changes-001.jsonl")
    NpmStream.start(spark, source(feedB), s"$base/out", s"$base/ckpt",
      Fixtures.RoutingFetcher).awaitTermination()
    val catalog = spark.read.parquet(s"$base/out/catalog")
    assert(catalog.count() == afterFirst + 1)
    assert(catalog.filter(col("change_seq_id") === 32).count() == 1)
    assert(catalog.groupBy("change_seq_id").count().filter(col("count") > 1).count() == 0)
  }

  test("r6-era absolute-path offsets relativize on upgrade (no re-delivery)") {
    val base = graft.TmpDirs.create("graft-feedsrc9")
    (0 until 3).foreach(i => writeFeed(base, Seq(s"""{"seq":$i}"""), f"f-$i%03d.jsonl"))
    val stream = new graft.streaming.source.ChangesFeedMicroBatchStream(base)
    // an r6 checkpoint: the offset array holds ABSOLUTE paths
    val legacyJson = s"""["$base/f-000.jsonl","$base/f-001.jsonl"]"""
    val start = stream.deserializeOffset(legacyJson)
    val parts = stream.planInputPartitions(start, stream.latestOffset())
    val names = parts.map(_.asInstanceOf[graft.streaming.source.ChangesFilePartition]
      .file.split("/").last).toSeq
    assert(names == Seq("f-002.jsonl"),
      "absolute-path offset entries were not recognized as consumed")
  }

  test("offset naming a disjoint feed fails fast instead of re-delivering wholesale") {
    // the path option points at a directory sharing NO file with the
    // checkpoint's consumed set: silently proceeding would mark the whole
    // new feed unconsumed AND interleave two different feeds' data
    val base = graft.TmpDirs.create("graft-feedsrc10")
    writeFeed(base, Seq("""{"seq":1}"""), "other-feed-000.jsonl")
    val stream = new graft.streaming.source.ChangesFeedMicroBatchStream(base)
    val ex = intercept[IllegalStateException] {
      stream.deserializeOffset("""["changes-000.jsonl","changes-001.jsonl"]""")
    }
    assert(ex.getMessage.contains("different feed"))
    // an EMPTY listing (transient unmount) stays permissive: the seen-set
    // union already guards re-delivery, and a restart must not be killed
    val gone = new graft.streaming.source.ChangesFeedMicroBatchStream(s"$base/missing")
    assert(gone.deserializeOffset("""["changes-000.jsonl"]""")
      .asInstanceOf[graft.streaming.source.SeenFilesOffset].names.size == 1)
  }

  test("latestOffset never regresses when the directory is momentarily unlistable") {
    val base = graft.TmpDirs.create("graft-feedsrc5")
    val feed = s"$base/feed"
    writeFeed(feed, Seq("""{"seq":1}"""), "f-001.jsonl")
    val stream = new graft.streaming.source.ChangesFeedMicroBatchStream(feed)
    val o1 = stream.latestOffset().asInstanceOf[graft.streaming.source.SeenFilesOffset]
    assert(o1.names.size == 1)
    // simulate an unmount/NFS blip: the directory vanishes for a trigger
    Files.delete(Paths.get(feed, "f-001.jsonl"))
    Files.delete(Paths.get(feed))
    val o2 = stream.latestOffset().asInstanceOf[graft.streaming.source.SeenFilesOffset]
    assert(o2.names == o1.names,
      "offset regressed below the consumed set — restart would re-deliver everything")
  }

  test("late-sorting file arriving across a RESTART is consumed exactly once (end-to-end)") {
    val base = graft.TmpDirs.create("graft-feedsrc6")
    val feed = s"$base/feed"
    // first run consumes a high-sorting file
    writeFeed(feed, Fixtures.withFetch404, "changes-900.jsonl")
    NpmStream.start(spark, source(feed), s"$base/out", s"$base/ckpt",
      Fixtures.RoutingFetcher).awaitTermination()
    val afterFirst = spark.read.parquet(s"$base/out/catalog").count()

    // a late file arrives whose name sorts BELOW the consumed one
    writeFeed(feed, Seq(
      """{"seq":31,"id":"latepkg","doc":{"_id":"latepkg","_rev":"1-a","name":"latepkg","dist-tags":{"latest":"1.0.0"},"versions":{"1.0.0":{"version":"1.0.0","dist":{"tarball":"http://r/l.tgz","unpackedSize":5,"shasum":"s"}}},"time":{"1.0.0":"2023-03-01T00:00:00.000Z","created":"2023-03-01T00:00:00.000Z","modified":"2023-03-01T00:00:00.000Z"}}}"""),
      "changes-100.jsonl")
    NpmStream.start(spark, source(feed), s"$base/out", s"$base/ckpt",
      Fixtures.RoutingFetcher).awaitTermination()
    val catalog = spark.read.parquet(s"$base/out/catalog")
    assert(catalog.count() == afterFirst + 1)
    assert(catalog.filter(col("change_seq_id") === 31).count() == 1)
    // a third run over the unchanged directory delivers nothing new
    NpmStream.start(spark, source(feed), s"$base/out", s"$base/ckpt",
      Fixtures.RoutingFetcher).awaitTermination()
    assert(spark.read.parquet(s"$base/out/catalog").count() == afterFirst + 1)
    assert(spark.read.parquet(s"$base/out/catalog")
      .groupBy("change_seq_id").count().filter(col("count") > 1).count() == 0)
  }
}
