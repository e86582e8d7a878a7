package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.npm.Pipeline
import graft.streaming.NpmStream

/** `stream_trickle`: open loop. A generator thread writes one file of changes
  * every [[FlushMs]] at [[Rate]] changes/s into a directory read by the
  * `npm-changes-feed` source; the query binds the stages of `NpmStream.start`
  * (`Pipeline.replay`, then `NpmStream.writeBatchOutputs`) under a
  * processing-time trigger that starts the next micro-batch as soon as the
  * previous one ends. Latency runs from each change's scheduled time to the
  * end of the micro-batch that committed it.
  */
final class StreamTrickle(o: Main.Opts) extends Workload {
  val Rate = 100
  val FlushMs = 1000
  val PerFile: Int = Rate * FlushMs / 1000
  val WarmChanges = 500
  val WarmBatches = 2

  final case class Run(
      latencies: Seq[Double],
      late: Seq[Double],
      progress: Seq[StreamingQueryProgress],
      batchRows: Seq[Long],
      /** first scheduled change to last commit */
      deliverySeconds: Double,
      /** (start, commit) of each micro-batch, seconds after the first scheduled change */
      batchTimes: Seq[(Double, Double)],
      backlogMax: Int,
      out: Path)

  private var feed: FeedGen.Feed = _
  private var warmLines: Array[String] = _
  private var runs = Seq.empty[Run]
  private var tracedRun: Run = _
  private var window = 0

  def stage(spark: SparkSession): Unit = {
    feed = FeedGen.generate(o.seed, Rate * math.ceil(o.seconds).toInt, huge = false)
    warmLines = FeedGen.generate(o.seed, WarmChanges * WarmBatches, huge = false).lines
  }

  private def files: Seq[Array[String]] = feed.lines.toSeq.grouped(PerFile).map(_.toArray).toSeq

  private def fileName(k: Int): String = f"changes-$k%06d.jsonl"

  /** Files must be immutable once visible to the source: write, then rename. */
  private def writeFile(stageDir: Path, feedDir: Path, k: Int, lines: Array[String]): Unit = {
    val tmp = stageDir.resolve(fileName(k))
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, feedDir.resolve(fileName(k)), StandardCopyOption.ATOMIC_MOVE)
  }

  private def startQuery(spark: SparkSession, dir: Path, tracer: Option[Tracer]) = {
    val feedDir = dir.resolve("feed")
    val out = dir.resolve("out").toString
    val source = spark.readStream.format("npm-changes-feed").option("path", feedDir.toString).load()
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        implicit val s: SparkSession = batch.sparkSession
        tracer match {
          case None =>
            NpmStream.writeBatchOutputs(Pipeline.replay(batch), out, batchId)
          case Some(t) =>
            t.span("stream.batch", batchId.toInt) {
              val r = t.span("stream.replay_plan", batchId.toInt)(Pipeline.replay(batch))
              t.span("stream.sink_write", batchId.toInt)(NpmStream.writeBatchOutputs(r, out, batchId))
            }
        }
      }
      .start()
  }

  private def dirs(name: String): Path = {
    val dir = o.work.resolve(name)
    Host.deleteRec(dir)
    Seq("feed", "stage").foreach(d => Files.createDirectories(dir.resolve(d)))
    dir
  }

  /** Warm-up: [[WarmBatches]] micro-batches of [[WarmChanges]] changes, one
    * after another, so the measured window does not start mid-JIT.
    */
  def warmup(spark: SparkSession): Unit = {
    val dir = dirs("stream-warmup")
    val q = startQuery(spark, dir, None)
    (0 until WarmBatches).foreach { k =>
      writeFile(dir.resolve("stage"), dir.resolve("feed"), k, warmLines.slice(k * WarmChanges, (k + 1) * WarmChanges))
      val deadline = System.currentTimeMillis() + 60000
      while (q.recentProgress.map(consumed(_).size).sum <= k && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    }
    q.stop()
    spark.catalog.clearCache()
  }

  private val mapper = new ObjectMapper()
  private def names(offsetJson: String): Set[String] =
    if (offsetJson == null || !offsetJson.startsWith("[")) Set.empty
    else mapper.readValue(offsetJson, classOf[Array[String]]).toSet

  private def consumed(p: StreamingQueryProgress): Set[String] =
    names(p.sources.head.endOffset) -- names(p.sources.head.startOffset)

  private def commitMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue()

  def measure(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Run = {
    window += 1
    val dir = dirs(s"stream-$window")
    val fs = files
    val q = startQuery(spark, dir, tracer)
    // the clock starts once the query has run its first (empty) trigger
    val ready = System.currentTimeMillis() + 60000
    while (q.lastProgress == null && System.currentTimeMillis() < ready) Thread.sleep(10)
    val t0 = System.currentTimeMillis()
    val written = new Array[Long](fs.size)
    val gen = new Thread(() => {
      fs.zipWithIndex.foreach { case (f, k) =>
        val due = t0 + (k + 1).toLong * FlushMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        writeFile(dir.resolve("stage"), dir.resolve("feed"), k, f)
        written(k) = System.currentTimeMillis()
      }
    })
    gen.start()
    gen.join()
    // wait until the query has committed every file, then stop it
    val deadline = System.currentTimeMillis() + 60000
    while (q.recentProgress.map(consumed(_).size).sum < fs.size && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    q.stop()
    spark.catalog.clearCache()

    // numInputRows counts a batch once per action on it, so batches are
    // sized from the files their offsets consumed
    val fileRows = fs.zipWithIndex.map { case (f, k) => fileName(k) -> f.length }.toMap
    val batches = q.recentProgress.toSeq.map(p => p -> consumed(p)).filter(_._2.nonEmpty)
    val committedAt = batches.flatMap { case (p, files) => files.map(_ -> commitMs(p)) }.toMap
    val latencies = fs.indices.flatMap { k =>
      committedAt.get(fileName(k)).toSeq.flatMap { c =>
        fs(k).indices.map { j =>
          val scheduled = t0 + (k * PerFile + j).toDouble * 1000 / Rate
          (c - scheduled) / 1000.0
        }
      }
    }
    val late = fs.indices.map(k => (written(k) - (t0 + (k + 1).toLong * FlushMs)).toDouble)
    // files written but not yet consumed when each batch started
    var done = 0
    val backlog = batches.map { case (p, files) =>
      val start = Instant.parse(p.timestamp).toEpochMilli
      val b = written.count(w => w > 0 && w <= start) - done
      done += files.size
      b
    }
    val delivery = if (committedAt.isEmpty) Double.NaN else (committedAt.values.max - t0) / 1000.0
    val r = Run(latencies, late, batches.map(_._1), batches.map(_._2.toSeq.map(fileRows).sum.toLong),
      delivery, batches.map { case (p, _) =>
        ((Instant.parse(p.timestamp).toEpochMilli - t0) / 1000.0, (commitMs(p) - t0) / 1000.0) },
      if (backlog.isEmpty) 0 else backlog.max, dir.resolve("out"))
    runs :+= r
    if (tracer.nonEmpty) tracedRun = r
    r
  }

  def verify(spark: SparkSession): Check = {
    val notes = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    runs.foreach { r =>
      attempted += feed.lines.length
      val (cat, dlq) = FeedGen.readRoutes(spark, r.out.resolve("catalog").toString, r.out.resolve("skipped").toString)
      val (misrouted, reasonMiss) = feed.routeMisses(cat, dlq)
      val unmeasured = feed.lines.length - r.latencies.size
      val f = misrouted + reasonMiss + unmeasured
      if (f > 0) notes += s"${r.out.getParent.getFileName}: misrouted=$misrouted reasons=$reasonMiss uncommitted=$unmeasured"
      failed += f
    }
    notes += s"plan: changes=${feed.lines.length} catalog=${feed.catalogCount} dlq=${feed.dlqPlan.toSeq.sorted.mkString(";")}"
    Check(attempted, failed, notes.toSeq)
  }

  def endToEnd(r: Run): Seq[(String, (Double, String))] = Seq(
    "throughput_per_s" -> (r.batchRows.sum / r.deliverySeconds, "1/s"),
    "latency_p50_s" -> (Stats.median(r.latencies), "s"),
    "latency_p95_s" -> (Stats.quantile(r.latencies, 0.95), "s"))

  def overheadPct(untraced: Run, traced: Run): Double =
    (Stats.median(traced.latencies) / Stats.median(untraced.latencies) - 1) * 100

  /** Micro-batch timeline of each measured window, for the run record. */
  override def extraJson: String = runs.map { r =>
    r.batchTimes.zip(r.batchRows).map { case ((a, b), n) => s"[$a,$b,$n]" }.mkString("[", ",", "]")
  }.mkString("""{"batches":[""", ",", "]}")

  override def genLateP95Ms: Double = runs.headOption.map(r => Stats.quantile(r.late, 0.95)).getOrElse(0.0)

  def perLayer(t: Tracer): Seq[(String, (Double, String))] = {
    val r = tracedRun
    // phases as the StreamingQueryListener delivered them for the traced window
    val traced = t.progress.map(_.progress).filter(p => consumed(p).nonEmpty)
    def phase(key: String): Double =
      Stats.median(traced.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue())))
    def spanMs(name: String): Double = Stats.median(t.spans.filter(_.name == name).map(_.seconds * 1000))
    val batches = t.spans.filter(_.name == "stream.batch")
    def perBatch(f: Counters => Long): Double = Stats.median(batches.map { b =>
      val c = new Counters
      c.add(t.countersOf(b))
      t.spans.filter(_.parent.contains(b.id)).foreach(k => c.add(t.countersOf(k)))
      f(c).toDouble
    })
    Seq(
      "stream.latest_offset_ms" -> (phase("latestOffset"), "ms"),
      "stream.query_planning_ms" -> (phase("queryPlanning"), "ms"),
      "stream.add_batch_ms" -> (phase("addBatch"), "ms"),
      "stream.wal_commit_ms" -> (phase("walCommit"), "ms"),
      "stream.commit_offsets_ms" -> (phase("commitOffsets"), "ms"),
      "stream.replay_plan_ms" -> (spanMs("stream.replay_plan"), "ms"),
      "stream.sink_write_ms" -> (spanMs("stream.sink_write"), "ms"),
      "stream.batches" -> (traced.size.toDouble, "count"),
      "stream.batch_rows_p50" -> (Stats.median(r.batchRows.map(_.toDouble)), "count"),
      "stream.jobs_per_batch" -> (perBatch(_.jobs), "count"),
      "stream.tasks_per_batch" -> (perBatch(_.tasks), "count"),
      "stream.backlog_files_max" -> (r.backlogMax.toDouble, "count"))
  }
}
