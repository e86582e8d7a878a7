package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.npm.Pipeline

/** The replay half of `replay_analytics`: one op runs `Pipeline.replay` over
  * the generated JSONL feed and writes all four outputs as parquet.
  */
final class ReplayBatch(o: Main.Opts) {
  val Changes = 10000
  val WarmChanges = 50

  private var feed: FeedGen.Feed = _
  private val feedDir = o.work.resolve("feed")
  private val warmDir = o.work.resolve("warm-feed")
  private val outRoot = o.work.resolve("replay-out")
  private val outputs = mutable.ArrayBuffer.empty[Path]
  private var opCounter = 0

  /** Lines of the measured feed. */
  def feedLines: Int = feed.lines.length

  private def writeFeed(dir: Path, f: FeedGen.Feed): Unit = {
    Host.deleteRec(dir)
    Files.createDirectories(dir)
    Files.write(dir.resolve("changes.jsonl"), f.lines.toSeq.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def stage(spark: SparkSession): Unit = {
    feed = FeedGen.generate(o.seed, Changes, huge = true)
    writeFeed(feedDir, feed)
    writeFeed(warmDir, FeedGen.generate(o.seed, WarmChanges, huge = false))
  }

  private def raw(spark: SparkSession, dir: Path = feedDir): DataFrame = spark.read.text(dir.toString)

  private def writeAll(r: Pipeline.PipelineResult, dir: Path): Unit = {
    r.catalog.write.mode("overwrite").parquet(dir.resolve("catalog").toString)
    r.skipped.write.mode("overwrite").parquet(dir.resolve("skipped").toString)
    r.audit.write.mode("overwrite").parquet(dir.resolve("audit").toString)
    r.deletions.write.mode("overwrite").parquet(dir.resolve("deletions").toString)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One op: the replay and its four outputs. */
  private def op(spark: SparkSession, dir: Path, in: Path = feedDir): Unit = {
    implicit val s: SparkSession = spark
    writeAll(Pipeline.replay(raw(spark, in)), dir)
  }

  /** Warm-up: one op over a small feed of the same shape. */
  def warmup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    op(spark, outRoot.resolve("warmup"), warmDir)
    spark.catalog.clearCache()
  }

  /** Cumulative stage prefixes, each materialized on its own: the self time
    * of stage k is prefix k minus prefix k-1.
    */
  private def prefixes(spark: SparkSession, t: Tracer, opId: Int): Unit = {
    implicit val s: SparkSession = spark
    def step(name: String)(body: => Unit): Unit = {
      spark.catalog.clearCache()
      t.span(s"npm.prefix.$name", opId)(body)
    }
    step("parse") {
      val (fit, oversized) = Pipeline.splitOversized(raw(spark))
      noop(Pipeline.parse(fit)); noop(oversized)
    }
    step("normalize") {
      val (fit, oversized) = Pipeline.splitOversized(raw(spark))
      noop(Pipeline.normalize(Pipeline.parse(fit)).toDF()); noop(oversized)
    }
    step("derive") {
      val (fit, oversized) = Pipeline.splitOversized(raw(spark))
      noop(Pipeline.withDerived(Pipeline.normalize(Pipeline.parse(fit))).cache()); noop(oversized)
    }
    step("enrich") {
      val (fit, oversized) = Pipeline.splitOversized(raw(spark))
      val derived = Pipeline.withDerived(Pipeline.normalize(Pipeline.parse(fit))).cache()
      noop(Pipeline.enrich(derived.filter(col("reject_reason").isNull), Pipeline.AlwaysOk))
      noop(oversized)
    }
    step("retention") {
      val (_, oversized) = Pipeline.splitOversized(raw(spark))
      noop(Pipeline.replay(raw(spark)).deletions); noop(oversized)
    }
  }

  /** One op, traced when a tracer is given; returns its seconds. */
  def runOp(spark: SparkSession, tracer: Option[Tracer]): Double = {
    opCounter += 1
    val dir = outRoot.resolve(s"op-$opCounter")
    outputs += dir
    // replay caches its derived and kept frames; an identical plan in the
    // next op would otherwise read the previous op's cache
    spark.catalog.clearCache()
    val seconds = tracer match {
      case None =>
        val t0 = System.nanoTime()
        op(spark, dir)
        (System.nanoTime() - t0) / 1e9
      case Some(t) =>
        t.span("npm.op", opCounter) {
          prefixes(spark, t, opCounter)
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          t.span("npm.prefix.outputs", opCounter)(op(spark, dir))
          (System.nanoTime() - t0) / 1e9
        }
    }
    spark.catalog.clearCache()
    seconds
  }

  private var counts = Map.empty[String, Double]

  def verify(spark: SparkSession): Check = {
    val notes = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val catalogSeqs = feed.routes.collect { case (s, FeedGen.Catalog) => s }.toSet
    outputs.foreach { dir =>
      attempted += feed.lines.length
      val (cat, dlq) = FeedGen.readRoutes(spark, dir.resolve("catalog").toString, dir.resolve("skipped").toString)
      val audit = spark.read.parquet(dir.resolve("audit").toString)
        .select(col("seq")).collect().map(_.getLong(0))
      val evictions = spark.read.parquet(dir.resolve("deletions").toString)
        .select(col("deleted_zip_path")).collect().map(_.getString(0))
      val (misrouted, reasonMiss) = feed.routeMisses(cat, dlq)
      // three audit events per kept change
      val auditMiss = if (audit.length == 3 * catalogSeqs.size && audit.toSet == catalogSeqs) 0 else 1
      // eviction set equals the A5 model
      val gotEv = evictions.groupBy(identity).map { case (k, v) => k -> v.length }
      val evMiss = (feed.evictions.keySet ++ gotEv.keySet).toSeq
        .map(k => math.abs(feed.evictions.getOrElse(k, 0) - gotEv.getOrElse(k, 0))).sum
      val f = misrouted + reasonMiss + auditMiss + evMiss
      if (f > 0) notes += s"${dir.getFileName}: misrouted=$misrouted reasons=$reasonMiss audit=$auditMiss evictions=$evMiss"
      failed += f
      counts = Map("rows_in" -> feed.lines.length.toDouble, "catalog_rows" -> cat.length.toDouble,
        "dlq_rows" -> dlq.length.toDouble, "audit_rows" -> audit.length.toDouble,
        "evictions" -> evictions.length.toDouble)
      Host.deleteRec(dir)
    }
    notes += s"plan: changes=${feed.lines.length} catalog=${catalogSeqs.size} dlq=${feed.dlqPlan.toSeq.sorted.mkString(";")} evictions=${feed.evictions.values.sum}"
    Check(attempted, failed, notes.toSeq)
  }

  def perLayer(t: Tracer): Seq[(String, (Double, String))] = {
    val ops = t.spans.filter(_.name == "npm.op").map(_.op).distinct
    def prefixSeconds(stage: String): collection.Seq[Double] =
      ops.flatMap(op => t.spans.find(s => s.op == op && s.name == s"npm.prefix.$stage").map(_.seconds))
    def prefixShuffle(stage: String): Double =
      Stats.median(ops.flatMap(op => t.spans.find(s => s.op == op && s.name == s"npm.prefix.$stage")
        .map(s => t.countersOf(s).shuffleWrite.toDouble)))
    val stages = PerLayer.NpmStages
    val med = stages.map(s => Stats.median(prefixSeconds(s)))
    val self = stages.indices.map(i => if (i == 0) med(0) else med(i) - med(i - 1))
    val reads = Stats.median(ops.flatMap(op => t.spans.find(s => s.op == op && s.name == "npm.prefix.outputs")
      .map(s => t.countersOf(s).recordsRead.toDouble))) / feed.lines.length
    stages.zip(self).map { case (s, v) => s"npm.$s.self_s" -> (v, "s") } ++
      counts.toSeq.map { case (k, v) => s"npm.$k" -> (v, "count") } ++
      Seq(
        "npm.enrich.shuffle_bytes" -> (prefixShuffle("enrich") - prefixShuffle("derive"), "bytes"),
        "npm.retention.shuffle_bytes" -> (prefixShuffle("retention") - prefixShuffle("enrich"), "bytes"),
        "npm.input_reads_per_change" -> (reads, "ratio"))
  }
}
