package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.npm.{FetchLog, Fixtures, Pipeline}
import org.apache.hadoop.fs.ParentNotDirectoryException
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

class NpmStreamSpec extends SparkSpec {

  import spark.implicits._

  private def writeFeed(dir: String, lines: Seq[String], name: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
  }

  test("streaming file-source replay produces the same catalog as batch") {
    val base = graft.TmpDirs.create("graft-npmstream")
    val feedDir = s"$base/feed"
    writeFeed(feedDir, Fixtures.withFetch404, "changes-0.jsonl")

    val q = NpmStream.start(spark,
      NpmStream.fileSource(spark, feedDir),
      outDir = s"$base/out", checkpointDir = s"$base/ckpt",
      fetcher = Fixtures.RoutingFetcher)
    q.awaitTermination()

    val catalog = spark.read.parquet(s"$base/out/catalog")
    assert(catalog.select("change_seq_id").as[Long].collect().toSet
      == Set(1L, 2L, 3L, 4L, 8L, 13L))
    val skipped = spark.read.parquet(s"$base/out/skipped")
    assert(skipped.filter(col("seq").isNotNull).count() == 6)
  }

  test("streaming retention carries per-package state across batches and restarts") {
    val base = graft.TmpDirs.create("graft-npmret")
    val feedDir = s"$base/feed"
    def change(seq: Int): String =
      s"""{"seq":$seq,"id":"hotpkg","doc":{"_id":"hotpkg","_rev":"$seq-r","name":"hotpkg","dist-tags":{"latest":"1.0.$seq"},"versions":{"1.0.$seq":{"version":"1.0.$seq","dist":{"tarball":"http://r/t.tgz","unpackedSize":5,"shasum":"s"}}},"time":{"1.0.$seq":"2023-01-01T00:00:00.000Z","created":"2023-01-01T00:00:00.000Z","modified":"2023-01-01T00:00:00.000Z"}}}"""
    // 5 versions in the first run: no eviction yet
    writeFeed(feedDir, (1 to 5).map(change), "f0.jsonl")
    NpmStream.startRetention(spark, NpmStream.fileSource(spark, feedDir),
      base, s"$base/ckpt").awaitTermination()
    assert(!Files.exists(Paths.get(s"$base/deleted_zips_stream")) ||
      spark.read.parquet(s"$base/deleted_zips_stream").count() == 0)
    // restart with two more versions: state remembered → two evictions
    writeFeed(feedDir, Seq(change(6), change(7)), "f1.jsonl")
    NpmStream.startRetention(spark, NpmStream.fileSource(spark, feedDir),
      base, s"$base/ckpt").awaitTermination()
    val evs = spark.read.parquet(s"$base/deleted_zips_stream")
      .select("deleted_zip_path").as[String].collect().sorted.toList
    assert(evs.map(_.split("/").last) == List("hotpkg_1-r.zip", "hotpkg_2-r.zip"))
  }

  test("a re-run of the same batch replaces its output instead of appending (idempotent sinks)") {
    // simulates the crash-between-sink-write-and-checkpoint-commit case:
    // Structured Streaming re-delivers the batch with the SAME batchId,
    // and the overwrite of each sink's own batch_id=<id> directory must
    // replace the previous attempt's rows, not duplicate them
    val base = graft.TmpDirs.create("graft-npmidem")
    val r = graft.npm.Pipeline.replay(
      Fixtures.withFetch404.toDF("value"), Fixtures.RoutingFetcher)(spark)
    NpmStream.writeBatchOutputs(r, base, batchId = 0)
    val once = spark.read.parquet(s"$base/catalog").count()
    NpmStream.writeBatchOutputs(r, base, batchId = 0) // same batch re-run
    assert(spark.read.parquet(s"$base/catalog").count() == once)
    assert(spark.read.parquet(s"$base/audit")
      .groupBy("seq").count().filter(col("count") > 3).count() == 0)
    // a genuinely new batch still lands alongside
    NpmStream.writeBatchOutputs(r, base, batchId = 1)
    assert(spark.read.parquet(s"$base/catalog").count() == once * 2)
  }

  test("restart from checkpoint does not duplicate already-processed changes") {
    val base = graft.TmpDirs.create("graft-npmstream2")
    val feedDir = s"$base/feed"
    writeFeed(feedDir, Fixtures.withFetch404, "changes-0.jsonl")

    val q1 = NpmStream.start(spark, NpmStream.fileSource(spark, feedDir),
      s"$base/out", s"$base/ckpt", Fixtures.RoutingFetcher)
    q1.awaitTermination()

    // new feed file arrives; restart the query from the same checkpoint
    writeFeed(feedDir, Seq(
      """{"seq":20,"id":"latepkg","doc":{"_id":"latepkg","_rev":"1-z","name":"latepkg","dist-tags":{"latest":"1.0.0"},"versions":{"1.0.0":{"version":"1.0.0","dist":{"tarball":"http://r/t.tgz","unpackedSize":5,"shasum":"s"}}},"time":{"1.0.0":"2023-02-01T00:00:00.000Z","created":"2023-02-01T00:00:00.000Z","modified":"2023-02-01T00:00:00.000Z"}}}"""),
      "changes-1.jsonl")
    val q2 = NpmStream.start(spark, NpmStream.fileSource(spark, feedDir),
      s"$base/out", s"$base/ckpt", Fixtures.RoutingFetcher)
    q2.awaitTermination()

    val catalog = spark.read.parquet(s"$base/out/catalog")
    // no duplicates from the first batch, and the late change arrived
    assert(catalog.count() == 7)
    assert(catalog.groupBy("change_seq_id").count().filter(col("count") > 1).count() == 0)
    assert(NpmStream.currentLag(spark, newestSeq = 20L, s"$base/out") == 0L)
  }

  test("a stream releases each micro-batch's replay cache once its outputs are written") {
    val base = graft.TmpDirs.create("graft-npmrelease")
    val feedDir = s"$base/feed"
    val (first, second) = Fixtures.withFetch404.splitAt(7)
    writeFeed(feedDir, first, "changes-0.jsonl")
    writeFeed(feedDir, second, "changes-1.jsonl")
    val before = spark.sparkContext.getPersistentRDDs.size
    NpmStream.start(spark, NpmStream.fileSource(spark, feedDir, maxFilesPerTrigger = 1),
      s"$base/out", s"$base/ckpt", Fixtures.RoutingFetcher).awaitTermination()
    assert(spark.read.parquet(s"$base/out/catalog").select("batch_id").distinct().count() == 2)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("every sink reads back, with its batch_id column, before the first eviction") {
    // one release per package: no batch evicts, no line is rejected, so
    // deleted_zips and skipped get only empty outputs
    val base = graft.TmpDirs.create("graft-npmempty")
    val feedDir = s"$base/feed"
    writeFeed(feedDir, Fixtures.distinctFeed(3), "changes-0.jsonl")
    NpmStream.start(spark, NpmStream.fileSource(spark, feedDir),
      s"$base/out", s"$base/ckpt").awaitTermination()
    val counts = Seq("catalog", "skipped", "audit", "deleted_zips").map { sink =>
      val df = spark.read.parquet(s"$base/out/$sink")
      assert(df.columns.contains("batch_id"), sink)
      sink -> df.count()
    }.toMap
    assert(counts == Map("catalog" -> 3L, "skipped" -> 0L, "audit" -> 9L, "deleted_zips" -> 0L))
  }

  test("the concurrent sink writes fetch each tarball once") {
    // the 7 fixtures that pass the pre-fetch checks plus 2,000 distinct
    // packages, all four sinks written by one writeBatchOutputs call
    val base = graft.TmpDirs.create("graft-npmfetch")
    FetchLog.reset()
    val r = Pipeline.replay((Fixtures.withFetch404 ++ Fixtures.distinctFeed(2000)).toDF("value"),
      FetchLog.Counting)(spark)
    NpmStream.writeBatchOutputs(r, base, batchId = 0)
    assert(FetchLog.total == 2007L)
    val cat = spark.read.parquet(s"$base/catalog").select("change_seq_id").as[Long].collect().toSet
    val dlq = spark.read.parquet(s"$base/skipped").filter(col("seq").isNotNull)
      .select("seq").as[Long].collect().toSet
    assert(cat.size == 2007)
    assert((cat intersect dlq).isEmpty)
  }

  test("a failed sink write surfaces its own exception after every write has ended") {
    val base = graft.TmpDirs.create("graft-npmfail")
    // a regular file where the catalog sink's directory should be: the
    // first write fails at once while the other three are still running
    Files.write(Paths.get(base, "catalog"), "not a directory".getBytes("UTF-8"))
    val before = spark.sparkContext.getPersistentRDDs.size
    val r = Pipeline.replay(Fixtures.withFetch404.toDF("value"), Fixtures.RoutingFetcher)(spark)
    // the write's own exception, not the future's wrapper
    val e = intercept[ParentNotDirectoryException](NpmStream.writeBatchOutputs(r, base, batchId = 0))
    assert(e.getMessage.contains(s"$base/catalog"))
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    // the other three sinks were still written
    assert(spark.read.parquet(s"$base/skipped").filter(col("seq").isNotNull).count() == 6)
  }

  test("the concurrent sink writes of an uncached local batch each fold its parse, and agree") {
    // once the routed frame is released, each of the four sink writes plans
    // the whole replay again on its own thread, and Spark's
    // ConvertToLocalRelation evaluates the parse of a local batch at
    // planning time, through the one from_json expression the four plans share
    val base = graft.TmpDirs.create("graft-npmfold")
    val r = Pipeline.replay(Fixtures.withFetch404.toDF("value"), Fixtures.RoutingFetcher)(spark)
    NpmStream.writeBatchOutputs(r, base, batchId = 0) // off the cached routed frame
    val folded = r.catalog.queryExecution.optimizedPlan.collect { case l: LocalRelation => l.output.map(_.name) }
    assert(folded == Seq(Seq("c", "raw")), r.catalog.queryExecution.optimizedPlan.treeString)
    (1 to 3).foreach(b => NpmStream.writeBatchOutputs(r, base, batchId = b))
    Seq("catalog", "skipped", "audit", "deleted_zips").foreach { sink =>
      val df = spark.read.parquet(s"$base/$sink")
      def rows(b: Int) = df.filter(col("batch_id") === b).drop("batch_id").collect().map(_.toString).sorted.toSeq
      assert((1 to 3).forall(b => rows(b) == rows(0)), sink)
    }
    assert(spark.read.parquet(s"$base/catalog").filter(col("batch_id") === 3).count() == 6)
  }
}
