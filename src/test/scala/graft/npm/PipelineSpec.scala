package graft.npm

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.SparkSpec
import org.apache.spark.graftaccess.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction, StructsToJson}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.{DeserializeToObject, MapPartitions, SerializeFromObject}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** Fetchers that record every call; local mode runs tasks in this JVM, so
  * the counts see every call the executors make.
  */
object FetchLog {
  private val perUrl = new ConcurrentHashMap[String, AtomicLong]()
  def reset(): Unit = perUrl.clear()
  /** Records one call for `url`; returns how many calls it has had. */
  def record(url: String): Long = perUrl.computeIfAbsent(url, _ => new AtomicLong).incrementAndGet()
  def total: Long = perUrl.values.stream.mapToLong(_.get).sum

  object Counting extends (String => (Int, Long)) with Serializable {
    def apply(url: String): (Int, Long) = { record(url); (200, 10L) }
  }
  /** 200 on a URL's first call, 503 on every later one. */
  object FirstCallOk extends (String => (Int, Long)) with Serializable {
    def apply(url: String): (Int, Long) = if (record(url) == 1) (200, 10L) else (503, 0L)
  }
}

class PipelineSpec extends SparkSpec {

  import spark.implicits._

  private lazy val result =
    Pipeline.replay(Fixtures.withFetch404.toDF("value"), Fixtures.RoutingFetcher)

  private lazy val catalog = result.catalog.cache()
  private lazy val skipped = result.skipped.cache()

  test("each fixture routes to its expected destination") {
    val inCatalog = catalog.select("change_seq_id").as[Long].collect().toSet
    val expectedCatalog = Set(1L, 2L, 3L, 4L, 8L, 13L)
    assert(inCatalog == expectedCatalog)
  }

  test("lineage conservation: every parseable seq lands in exactly one of catalog/skipped") {
    // the corrupt line has no seq — it appears in skipped with seq null
    val catSeqs = catalog.select("change_seq_id").as[Long].collect().toSet
    val skipSeqs = skipped.filter(col("seq").isNotNull).select("seq").as[Long].collect().toSet
    assert((catSeqs & skipSeqs).isEmpty)
    assert(catSeqs ++ skipSeqs == (1L to 13L).toSet - 12L)
    assert(skipped.filter(col("seq").isNull).count() == 1) // the corrupt line
  }

  test("skip reasons match the reference's rejection paths") {
    val reasons = skipped.filter(col("seq").isNotNull)
      .select("seq", "reason").as[(Long, String)].collect().toMap
    assert(reasons(5L) == "no_doc")
    assert(reasons(6L) == "no_doc")           // _design dropped by normalize
    assert(reasons(7L) == "tarball_too_large")
    assert(reasons(9L) == "missing_latest_tag") // "0.6" tag dropped by T3
    assert(reasons(10L) == "missing_latest_tag")
    assert(reasons(11L) == "http_404")
  }

  test("audit lineage: kept changes emit all three stages, skipped none") {
    val byStage = result.audit.groupBy("stage").count()
      .as[(String, Long)].collect().toMap
    assert(byStage == Map(
      "downloaded_in_local" -> 6L, "moved_to_remote" -> 6L, "added_to_db" -> 6L))
    val auditSeqs = result.audit.select("seq").distinct().as[Long].collect().toSet
    assert(auditSeqs == catalog.select("change_seq_id").as[Long].collect().toSet)
  }

  test("catalog projection: scoped name, dir hashing, Deleted- prefix") {
    val rows = catalog.select("change_seq_id", "package_name", "change_save_path", "package_deleted")
      .as[(Long, String, String, Boolean)].collect().map(r => r._1 -> r).toMap
    // plain: 3-char uppercase prefix
    assert(rows(1L)._3 == "npm-mirror-packages/PLA/plainpkg/plainpkg_1-abc.zip")
    // scoped: raw-name prefix + nested dirs, filename from split name (T4)
    assert(rows(2L)._2 == "@scope/name")
    assert(rows(2L)._3 == "npm-mirror-packages/@SC/@scope/name/name_1-abc.zip")
    // short name: single-char fallback (T6)
    assert(rows(3L)._3 == "npm-mirror-packages/A/ab/ab_1-abc.zip")
    // deletion change: Deleted- prefix (F6), flag set
    assert(rows(4L)._3.endsWith("/Deleted-deadpkg_1-abc.zip"))
    assert(rows(4L)._4)
  }

  test("catalog projection: counts, latest fields, maps survive") {
    val r = catalog.filter(col("change_seq_id") === 1).head()
    assert(r.getAs[String]("package_latest_version") == "1.0.0")
    assert(r.getAs[Int]("package_versions_count") == 1)
    assert(r.getAs[Int]("package_modification_count") == 3)
    assert(r.getAs[Row]("package_latest_authors").getAs[String]("name") == "ada")
    assert(r.getAs[scala.collection.Seq[Row]]("package_latest_maintainers").size == 2)
    assert(r.getAs[Map[String, String]]("package_latest_dependencies")
      == Map("left-pad" -> "^1.0.0", "semver" -> "~7.0.0"))
    assert(r.getAs[Map[String, String]]("package_distribution_tags") == Map("latest" -> "1.0.0"))
    assert(r.getAs[java.sql.Timestamp]("package_latest_change_time") != null)
  }

  test("catalog maps keep the doc's entry order, also past four entries") {
    // five dependencies: a Scala Map of more than four entries is a
    // HashMap, so a round trip through external rows would reorder them
    val deps = Seq("core", "react", "parse", "lodash", "http")
    val line = Fixtures.distinctFeed(1).head.replace("\"shasum\":\"s\"}",
      "\"shasum\":\"s\"},\"dependencies\":{" + deps.map(d => s"\"$d\":\"^1.0.0\"").mkString(",") + "}")
    val r = Pipeline.replay(Seq(line).toDF("value"))
    val keys = r.catalog.select(map_keys(col("package_latest_dependencies"))).as[Seq[String]].head()
    assert(keys == deps)
    r.routed.unpersist()
  }

  test("T3 semver cleaning flows through to the catalog (seq 8)") {
    val r = catalog.filter(col("change_seq_id") === 8).head()
    // raw key was v1.0.0; catalog sees the cleaned version everywhere
    assert(r.getAs[String]("package_latest_version") == "1.0.0")
    assert(r.getAs[Map[String, String]]("package_distribution_tags") == Map("latest" -> "1.0.0"))
  }

  test("F8/E2: a change over the broker message cap routes to the DLQ as msg_too_large") {
    // the reference can't produce a >10 MiB line to Kafka at all
    // (MSG_SIZE_TOO_LARGE) and writes the seq to skipped_changes instead
    // (changes_producer.py:74-84, producer.ts:185-194)
    // multibyte pad: é is 2 UTF-8 bytes, so this line is over the BYTE
    // cap while its CHARACTER count is only ~half the cap — catches a
    // length()-vs-octet_length() regression
    val pad = "é" * (model.MaxKafkaMessageBytes.toInt / 2 + 64)
    val big = s"""{"seq":99,"id":"bigpkg","pad":"$pad"}"""
    val r = Pipeline.replay(
      (Fixtures.withFetch404 :+ big).toDF("value"), Fixtures.RoutingFetcher)
    val row = r.skipped.filter(col("seq") === 99).head()
    assert(row.getAs[String]("package_name") == "bigpkg")
    assert(row.getAs[String]("reason") == "msg_too_large")
    assert(row.getAs[String]("stage") == "produce")
    // and it never reaches the catalog
    assert(r.catalog.filter(col("change_seq_id") === 99).count() == 0)
  }

  test("a NULL value (Kafka tombstone) lands in the DLQ, never silently dropped") {
    val r = Pipeline.replay(
      (Fixtures.withFetch404 :+ (null: String)).toDF("value"), Fixtures.RoutingFetcher)
    // the tombstone has no parseable seq → corrupt_json at parse, like
    // any unparseable line; the fixture corpus itself contributes one
    assert(r.skipped.filter(col("seq").isNull && col("reason") === "corrupt_json").count() == 2)
  }

  test("retention heuristic: seq 13 (unpublished versions) does not trigger") {
    // seq 13 has len(time)-len(versions)=3 → arrival flagged untriggered;
    // with single-arrival packages there are no evictions at all here
    assert(result.deletions.count() == 0)
  }

  private def writeAll(r: Pipeline.PipelineResult): Unit =
    Seq(r.catalog, r.skipped, r.audit, r.deletions)
      .foreach(_.write.format("noop").mode("overwrite").save())

  test("a replay fetches each tarball once however many outputs are written") {
    // the 7 fixtures that pass the pre-fetch checks (seqs 1-4, 8, 11, 13)
    // plus 2,000 distinct packages; the 6 pre-rejected fixtures and the
    // corrupt line are never fetched
    FetchLog.reset()
    val r = Pipeline.replay((Fixtures.withFetch404 ++ Fixtures.distinctFeed(2000)).toDF("value"),
      FetchLog.Counting)
    writeAll(r)
    assert(FetchLog.total == 2007L)
    r.routed.unpersist()
  }

  test("a fetcher that fails on a retry cannot route one seq to both catalog and DLQ") {
    FetchLog.reset()
    val r = Pipeline.replay(Fixtures.distinctFeed(2000).toDF("value"), FetchLog.FirstCallOk)
    val dir = graft.TmpDirs.create("graft-pipeline-once")
    r.catalog.write.parquet(s"$dir/catalog")
    r.skipped.write.parquet(s"$dir/skipped")
    r.audit.write.parquet(s"$dir/audit")
    r.deletions.write.parquet(s"$dir/deletions")
    val cat = spark.read.parquet(s"$dir/catalog").select("change_seq_id").as[Long].collect()
    val dlq = spark.read.parquet(s"$dir/skipped").select("seq").as[Long].collect()
    assert(cat.length + dlq.length == 2000)
    assert((cat.toSet ++ dlq.toSet) == (1001L to 3000L).toSet)
    assert(dlq.isEmpty, s"${dlq.length} seqs were fetched again and routed to the DLQ")
    r.routed.unpersist()
  }

  test("a replay reads each input line once for all four outputs") {
    val pad = "x" * (model.MaxKafkaMessageBytes.toInt + 64)
    val lines = Fixtures.withFetch404 :+ s"""{"seq":99,"id":"bigpkg","pad":"$pad"}"""
    val dir = java.nio.file.Paths.get(graft.TmpDirs.create("graft-pipeline-reads"))
    Files.write(dir.resolve("changes.jsonl"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val read = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val r = Pipeline.replay(spark.read.text(dir.toString), Fixtures.RoutingFetcher)
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      writeAll(r)
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the scan reads each line once; skipped, audit and deletions then
    // read the cached routed frame, which counts one record per cached
    // batch read (the feed is one split, so one batch each)
    assert(read.get == lines.length + 3L)
    r.routed.unpersist()
  }

  test("catalog, skipped and audit plan no Exchange; deletions one, on the package dir") {
    // the plan string includes the cached frame's own plan; any exchange
    // counts, broadcast ones too
    def exchanges(df: DataFrame): Seq[String] =
      df.queryExecution.executedPlan.toString.split("\n").toSeq.filter(_.contains("Exchange"))
    Seq(result.catalog, result.skipped, result.audit).foreach { df =>
      assert(exchanges(df).isEmpty, df.queryExecution.executedPlan.toString)
    }
    val ex = exchanges(result.deletions)
    assert(ex.size == 1 && ex.head.contains("hashpartitioning"),
      result.deletions.queryExecution.executedPlan.toString)
  }

  /** The routed frame of a replay over the fixture corpus read from a file, as the mirror reads. */
  private def fileFedRouted(): DataFrame = {
    val dir = java.nio.file.Paths.get(graft.TmpDirs.create("graft-pipeline-plan"))
    Files.write(dir.resolve("changes.jsonl"), Fixtures.withFetch404.mkString("", "\n", "\n").getBytes("UTF-8"))
    Pipeline.replay(spark.read.text(dir.toString), Fixtures.RoutingFetcher).routed
  }

  test("the replay normalizes each doc in one normalize_doc call, with no lambda") {
    // the plan below the cache, since InMemoryRelation hides it
    val routed = fileFedRouted()
    val plan = spark.sessionState.optimizer.execute(routed.queryExecution.analyzed)
    val exprs = plan.collect { case node => node.expressions.flatMap(_.collect { case e => e }) }.flatten
    val lambdas = exprs.filter {
      case _: LambdaFunction | _: HigherOrderFunction => true
      case _ => false
    }
    assert(lambdas.isEmpty, lambdas.map(_.prettyName).distinct.mkString(", "))
    assert(exprs.count(_.prettyName == "normalize_doc") == 1, plan.treeString)
    routed.unpersist()
  }

  test("the routed projection keeps internal rows: no object round trip, no to_json, JIT-sized codegen") {
    val routed = fileFedRouted()
    val plan = spark.sessionState.optimizer.execute(routed.queryExecution.analyzed)
    val objectNodes = plan.collect {
      case n @ (_: DeserializeToObject | _: SerializeFromObject | _: MapPartitions) => n.nodeName
    }
    assert(objectNodes.isEmpty, plan.treeString)
    // to_json is replaced by an evaluator call before optimization, so look in the analyzed plan
    val toJson = routed.queryExecution.analyzed.collect { case n => n.expressions.flatMap(_.collect {
      case e: StructsToJson => e }) }.flatten
    assert(toJson.isEmpty, routed.queryExecution.analyzed.treeString)
    // HotSpot never JIT-compiles a method over 8,000 bytecode bytes
    val cached = routed.queryExecution.optimizedPlan
      .collectFirst { case r: InMemoryRelation => r.cacheBuilder.cachedPlan }.get
    val stages = cached.collect { case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty, cached.treeString)
    stages.foreach { w =>
      val size = CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
      assert(size <= 8000, s"stage ${w.codegenStageId} compiles a $size-byte method:\n${cached.treeString}")
    }
    routed.unpersist()
  }
}
