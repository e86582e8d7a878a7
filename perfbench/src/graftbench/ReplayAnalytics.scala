package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `replay_analytics`: closed loop, one caller. Each op is one batch cycle of
  * the mirror: a [[ReplayBatch]] op (`Pipeline.replay` of the seeded feed to
  * its four outputs), then an [[AnalyticsMix]] pass (the research queries
  * over seeded tables). Both halves share the run's session, so the engine's
  * one-time start-up costs are paid once for both layers.
  */
final class ReplayAnalytics(o: Main.Opts) extends Workload {
  final case class Run(replaySeconds: Seq[Double], passSeconds: Seq[Double], querySeconds: Seq[Double]) {
    def cycleSeconds: Double = Stats.median(replaySeconds) + Stats.median(passSeconds)
  }

  private val replay = new ReplayBatch(o)
  private val mix = new AnalyticsMix(o)

  def stage(spark: SparkSession): Unit = {
    replay.stage(spark)
    mix.stage(spark)
  }

  def warmup(spark: SparkSession): Unit = {
    replay.warmup(spark)
    mix.warmup(spark)
  }

  def measure(spark: SparkSession, seconds: Double, tracer: Option[Tracer]): Run = {
    val replaySeconds = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < seconds || passes.isEmpty) {
      replaySeconds += replay.runOp(spark, tracer)
      passes += mix.runPass(spark, tracer)
    }
    Run(replaySeconds.toSeq, passes.map(_.map(_._2).sum).toSeq, passes.flatMap(_.map(_._2)).toSeq)
  }

  def verify(spark: SparkSession): Check = {
    val r = replay.verify(spark)
    val m = mix.verify(spark)
    Check(r.attempted + m.attempted, r.failed + m.failed, r.notes ++ m.notes)
  }

  def endToEnd(r: Run): Seq[(String, (Double, String))] = Seq(
    "throughput_per_s" -> (replay.feedLines / Stats.median(r.replaySeconds), "1/s"),
    "latency_p50_s" -> (Stats.median(r.passSeconds), "s"),
    "latency_p95_s" -> (Stats.quantile(r.querySeconds, 0.95), "s"))

  def overheadPct(untraced: Run, traced: Run): Double =
    (traced.cycleSeconds / untraced.cycleSeconds - 1) * 100

  def perLayer(t: Tracer): Seq[(String, (Double, String))] = replay.perLayer(t) ++ mix.perLayer(t)

  override def extraJson: String = mix.extraJson
}
