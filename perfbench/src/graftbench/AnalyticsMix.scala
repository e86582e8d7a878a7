package graftbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{PinnedStorage, SparkEntry}

/** The analytics half of `replay_analytics`: one pass runs the queries of
  * [[AnalyticsMix.Queries]] through `SparkEntry.queries`, in an order
  * shuffled by the seed, over tables generated from the seed; each query's
  * complete result is written as parquet. `run.py` checks the last pass's
  * results against `SparkEntry.oracleSql` in DuckDB.
  */
final class AnalyticsMix(o: Main.Opts) {
  private val data = o.data.getOrElse(throw new IllegalArgumentException("replay_analytics needs --data"))
  private val outRoot = o.work.resolve("analytics-out")
  private val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  private val order: Seq[String] = {
    val a = AnalyticsMix.Queries.toArray
    val rng = new SplittableRandom(o.seed)
    var i = a.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toSeq
  }
  private var executions = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passCounter = 0

  def stage(spark: SparkSession): Unit =
    graft.Tables.all.foreach(t => graft.Tables.load(spark, data, t).inputFiles)

  /** Between queries, outside the timed window, as `graft.Bench` does it:
    * drop unpinned storage, unload state stores, delete staged temp dirs.
    */
  private def settle(spark: SparkSession): Unit = {
    PinnedStorage.sweep(spark, blocking = true)
    try org.apache.spark.sql.graftaccess.StateStoreAccess.unloadAll()
    catch { case _: Throwable => () }
    Option(tmpRoot.toFile.listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith("graft-") || f.getName.startsWith("floor-") || f.getName.startsWith("streamdemo"))
        Host.deleteRec(f.toPath)
    })
  }

  /** One query: its complete result written as parquet. */
  private def runQuery(spark: SparkSession, q: String): Boolean = {
    executions += 1
    try {
      SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(outRoot.resolve(q).toString)
      true
    } catch {
      case e: Throwable =>
        failures += s"$q: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        false
    }
  }

  /** One pass, traced when a tracer is given: each query's seconds, in order. */
  def runPass(spark: SparkSession, tracer: Option[Tracer]): Seq[(String, Double)] = {
    passCounter += 1
    val times = order.map { q =>
      settle(spark)
      spark.sparkContext.setJobDescription(q)
      val t0 = System.nanoTime()
      tracer match {
        case None => runQuery(spark, q)
        case Some(t) => t.span(s"op.$q", passCounter)(runQuery(spark, q))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      q -> dt
    }
    settle(spark)
    times
  }

  /** Warm-up: one pass, whose results are not counted. */
  def warmup(spark: SparkSession): Unit = {
    val times = runPass(spark, None)
    System.err.println("analytics warm-up: " + times.map { case (q, t) => f"$q $t%.2f s" }.mkString(", "))
    executions = 0
    failures.clear()
  }

  def verify(spark: SparkSession): Check =
    Check(executions, failures.size.toLong, failures.toSeq :+ s"order: ${order.mkString(",")}")

  def perLayer(t: Tracer): Seq[(String, (Double, String))] = order.flatMap { q =>
    val spans = t.spans.filter(_.name == s"op.$q")
    def med(f: Span => Double): Double = Stats.median(spans.map(f))
    Seq(
      s"op.$q.s" -> (med(_.seconds), "s"),
      s"op.$q.jobs" -> (med(s => t.countersOf(s).jobs.toDouble), "count"),
      s"op.$q.exchanges" -> (med(s => t.countersOf(s).exchanges.toDouble), "count"),
      s"op.$q.shuffle_bytes" -> (med(s => t.countersOf(s).shuffleWrite.toDouble), "bytes"),
      s"op.$q.local_checkpoints" -> (med(s => t.countersOf(s).checkpointedRdds.size.toDouble), "count"))
  }

  /** Where the last result of each query lives, and its oracle SQL. */
  def extraJson: String = {
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("outputs", order.map(q => q -> outRoot.resolve(q).toString).toMap.asJava)
    m.put("oracle", SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) }.asJava)
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m)
  }
}

object AnalyticsMix {
  /** One query per group of the code they exercise: TwoStageOrder, guarded
    * broadcasts, Dedup, and a TPC-H control that uses none of these.
    */
  val Queries = Seq(
    "scale_exact_quantiles",
    "graph_link_prediction",
    "dedup_minhash_incremental_delta",
    "q10_returned_items")
}
