package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark inside one JVM. `run.py` builds the classes, generates
  * the analytics tables, launches this main and adds the DuckDB oracle check.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *        [--data <tables dir>]
  *
  * Writes `<work>/result.json`: attempted/failed counts, every metric with its
  * unit, and (for replay_analytics) where each query's last result was written.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, data: Option[String])

  /** Sessions are built the way the repo's own entry points build them,
    * pinned to four local cores and four shuffle partitions.
    */
  def newSession(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.LocalNioCheckpointFileManager")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv("work")).toAbsolutePath, kv.get("data"))
    Files.createDirectories(o.work)
    val wl: Workload = o.workload match {
      case "replay_analytics" => new ReplayAnalytics(o)
      case "stream_trickle" => new StreamTrickle(o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: session start + input staging + warm-up op, once per run: the
    // first one in a JVM costs about 30 s on 4 cores, and a run has about 60 s
    val t0 = System.nanoTime()
    val spark = newSession(o.work)
    val t1 = System.nanoTime()
    wl.stage(spark)
    val t2 = System.nanoTime()
    wl.warmup(spark)
    val t3 = System.nanoTime()
    val setupSeconds = (t3 - t0) / 1e9
    System.err.println(f"setup: session ${(t1 - t0) / 1e9}%.2f s, staging ${(t2 - t1) / 1e9}%.2f s, warm-up ${(t3 - t2) / 1e9}%.2f s")

    val tracer = new Tracer(spark)
    val cpu0 = Host.cpuStat()
    // a traced run measures traced, then untraced: the overhead is taken
    // against the later, warmer window, so JIT warm-up between the two counts
    // as tracing cost and the figure is an upper bound
    val (untraced, overheadPct) = if (!o.trace) (wl.measure(spark, o.seconds, None), 0.0) else {
      tracer.install()
      val traced = try wl.measure(spark, o.seconds, Some(tracer)) finally tracer.uninstall()
      val after = wl.measure(spark, o.seconds, None)
      (after, wl.overheadPct(after, traced))
    }
    val cpu1 = Host.cpuStat()

    // retained heap after the measured ops
    val rt = Runtime.getRuntime
    (1 to 3).foreach(_ => { System.gc(); Thread.sleep(100) })
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)

    val check = wl.verify(spark)
    val steal = Host.stealPct(cpu0, cpu1)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    metrics ++= wl.endToEnd(untraced)
    metrics("setup_s") = (setupSeconds, "s")
    metrics("retained_heap_mb") = (heapMb, "MB")

    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (o.trace) {
      layer ++= PerLayer.zeros
      layer ++= wl.perLayer(tracer)
      layer ++= PerLayer.engine(tracer)
      layer("trace.overhead_pct") = (overheadPct, "%")
      tracer.writeJsonl(o.work.resolve("spans.jsonl"))
    }
    layer("host.steal_pct") = (steal, "%")
    layer("gen.late_p95_ms") = (wl.genLateP95Ms, "ms")
    layer("check.failed_frac") = (check.failed.toDouble / math.max(1L, check.attempted), "ratio")

    def obj(m: collection.Map[String, (Double, String)]): java.util.Map[String, Object] = {
      val j = new java.util.LinkedHashMap[String, Object]()
      m.foreach { case (k, (v, u)) =>
        val e = new java.util.LinkedHashMap[String, Object]()
        e.put("value", Double.box(v)); e.put("unit", u)
        j.put(k, e)
      }
      j
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val res = new java.util.LinkedHashMap[String, Object]()
    res.put("workload", o.workload)
    res.put("seed", Long.box(o.seed))
    res.put("attempted", Long.box(check.attempted))
    res.put("failed", Long.box(check.failed))
    res.put("checks", check.notes.asJava)
    res.put("end_to_end", obj(metrics))
    res.put("per_layer", obj(layer))
    res.put("extra", mapper.readTree(wl.extraJson))
    Files.writeString(o.work.resolve("result.json"), mapper.writeValueAsString(res))
    spark.stop()
  }
}

/** Outcome of the correctness checks: every miss adds to `failed`. */
final case class Check(attempted: Long, failed: Long, notes: Seq[String])

/** What each workload provides to `Main`. */
trait Workload {
  type Run
  def stage(spark: SparkSession): Unit
  def warmup(spark: SparkSession): Unit
  /** Measures for about `seconds`; traced when a tracer is given. */
  def measure(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Run
  def verify(spark: SparkSession): Check
  def endToEnd(r: Run): Seq[(String, (Double, String))]
  def perLayer(t: Tracer): Seq[(String, (Double, String))]
  def overheadPct(untraced: Run, traced: Run): Double
  def genLateP95Ms: Double = 0.0
  def extraJson: String = "{}"
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (type 7). */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}

object Host {
  /** (steal, total) jiffies from the first line of /proc/stat. */
  def cpuStat(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val p = src.getLines().next().trim.split("\\s+")
      val vals = p.drop(1).take(8).map(_.toLong)
      Some((vals(7), vals.sum))
    } finally src.close()
  } catch { case _: Throwable => None }

  def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0) yield (s1 - s0) * 100.0 / (t1 - t0))
      .getOrElse(Double.NaN)

  def deleteRec(p: Path): Unit = {
    val f = p.toFile
    Option(f.listFiles()).foreach(_.foreach(c => deleteRec(c.toPath)))
    f.delete(): Unit
  }
}

/** Per-layer metric names. Every traced run prints the npm and stream
  * metrics and five `op.<query>.*` metrics per analytics query, with 0 for a
  * layer the workload does not exercise.
  */
object PerLayer {
  val NpmStages = Seq("parse", "normalize", "derive", "enrich", "retention", "outputs")

  def zeros: Seq[(String, (Double, String))] =
    NpmStages.map(s => s"npm.$s.self_s" -> (0.0, "s")) ++
    Seq("rows_in", "catalog_rows", "dlq_rows", "audit_rows", "evictions").map(n => s"npm.$n" -> (0.0, "count")) ++
    Seq("npm.enrich.shuffle_bytes" -> (0.0, "bytes"), "npm.retention.shuffle_bytes" -> (0.0, "bytes"),
      "npm.input_reads_per_change" -> (0.0, "ratio")) ++
    Seq("latest_offset", "query_planning", "add_batch", "wal_commit", "commit_offsets",
      "replay_plan", "sink_write").map(n => s"stream.${n}_ms" -> (0.0, "ms")) ++
    Seq("batches", "batch_rows_p50", "jobs_per_batch", "tasks_per_batch", "backlog_files_max")
      .map(n => s"stream.$n" -> (0.0, "count")) ++
    AnalyticsMix.Queries.flatMap(q => Seq(s"op.$q.s" -> (0.0, "s"), s"op.$q.jobs" -> (0.0, "count"),
      s"op.$q.exchanges" -> (0.0, "count"), s"op.$q.shuffle_bytes" -> (0.0, "bytes"),
      s"op.$q.local_checkpoints" -> (0.0, "count")))

  /** Engine totals over every span of the traced window. */
  def engine(t: Tracer): Seq[(String, (Double, String))] = {
    val c = new Counters
    t.counters.foreach { case (_, v) => c.add(v) }
    Seq(
      "spark.jobs" -> (c.jobs.toDouble, "count"),
      "spark.tasks" -> (c.tasks.toDouble, "count"),
      "spark.executor_run_s" -> (c.runMs / 1e3, "s"),
      "spark.executor_cpu_s" -> (c.cpuNs / 1e9, "s"),
      "spark.gc_s" -> (c.gcMs / 1e3, "s"),
      "spark.shuffle_write_bytes" -> (c.shuffleWrite.toDouble, "bytes"),
      "spark.spill_bytes" -> (c.spill.toDouble, "bytes"))
  }
}
