package graft

import org.apache.spark.sql.SparkSession

/** Throughput of the full NPM consumer pipeline (parse → normalize →
  * validity/size filters → enrichment → catalog + DLQ + audit +
  * retention), measured end-to-end in changes/second.
  *
  * The reference's operational contract implies a sustained rate within
  * ~10 changes/s of the registry feed (BASELINE.md: lag-restart threshold
  * of 200 seqs per 20 s poll, 4 consumer processes); this harness is the
  * direct comparison point: same per-change semantics, Spark execution.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 scripts/run_main.sh graft.PipelineBench
  */
object PipelineBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    implicit val spark: SparkSession = LocalSession(LocalSession.envCores)
    spark.sparkContext.setLogLevel("WARN")

    // the same deterministic change feed the correctness gate replays
    // (graft.npm.NpmReplayOps), materialized once so feed synthesis cost
    // is excluded from the measured pipeline time
    val feed = npm.NpmReplayOps.syntheticFeed(spark, sfDir).localCheckpoint(true)
    val nChanges = feed.count()

    // each measured pass carries its own /proc/stat steal fraction (r14
    // verdict item 6: the 8,169 changes/s figure predates the steal
    // instrumentation — the throughput claim should be wave-proof)
    // a pass writes all four outputs, as the mirror does, through the
    // noop sink (every column computed, nothing stored); the row counts
    // are read from the pass's cache after the clock stops, and the cache
    // is cleared so the next pass replays from the feed (the feed itself
    // is a local checkpoint, which clearCache keeps)
    def once(): (Long, Long, Double, Option[Double]) = {
      val s0 = Bench.cpuStat()
      val t0 = System.nanoTime()
      val r = npm.Pipeline.replay(feed)
      Seq(r.catalog, r.skipped, r.audit, r.deletions)
        .foreach(_.write.format("noop").mode("overwrite").save())
      val dt = (System.nanoTime() - t0) / 1e9
      val steal = for { (a0, b0) <- s0; (a1, b1) <- Bench.cpuStat() if b1 > b0 }
        yield (a1 - a0) * 100.0 / (b1 - b0)
      val nCatalog = r.catalog.count()
      val nSkipped = r.skipped.count()
      spark.catalog.clearCache()
      (nCatalog, nSkipped, dt, steal)
    }
    once() // warmup (JIT + codegen)
    // best of two measured passes, each with its own steal reading — a
    // co-tenancy wave must hit both to corrupt the reported rate
    val (nCatalog, nSkipped, dt, steal) = Seq(once(), once()).minBy(_._3)

    val rate = nChanges / dt
    // Locale.ROOT: a comma-decimal default locale must not corrupt the JSON
    def f(fmt: String, v: Double): String =
      String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    println(
      s"""{"metric":"pipeline_changes_per_sec","value":${f("%.0f", rate)},"unit":"changes/sec","changes":$nChanges,"catalog":$nCatalog,"dlq":$nSkipped,"sec":${f("%.3f", dt)},"host_steal_pct":${steal.map(f("%.3f", _)).getOrElse("null")},"sf":"$sfDir"}""")

    // Batch-size amortization sweep (r16 verdict item 6): the r16 floor
    // decomposition (DESIGN.md r16 §5) showed the streaming-specific
    // engine cost is a FIXED ~15–25 ms/micro-batch plus a per-job
    // scheduling floor, i.e. cost/change ∝ 1/batch-size — the 100 TB
    // amortization claim. Demonstrate it IN NUMBERS: the same feed
    // replicated to ~100k changes (seq-shifted so the class mix is
    // preserved exactly — see syntheticFeedReplicated), streamed through
    // the FULL pipeline (file source staged one-file-per-micro-batch,
    // foreachBatch writing all four sinks) at micro-batch sizes
    // 1k / 10k / 100k rows. Skippable with SPARK_GRAFT_PIPE_SWEEP=0.
    if (sys.env.getOrElse("SPARK_GRAFT_PIPE_SWEEP", "1") != "0") {
      // replica count derived from a TARGET row count (r17 advice: a
      // hardcoded rep=5 meant a smaller sfDir ran the bs=100000 arm as
      // one micro-batch of far fewer rows while still labeling it
      // 100000) — and each arm reports its ACTUAL rows per batch next
      // to the requested size.
      val sweepTarget = 100000L
      val rep = math.max(1L, math.round(
        sweepTarget.toDouble / math.max(1L, nChanges))).toInt
      val feedBig = npm.NpmReplayOps.syntheticFeedReplicated(spark, sfDir, rep)
        .localCheckpoint(true)
      val nBig = feedBig.count()
      Seq(1000L, 10000L, 100000L).foreach { bs =>
        val nFiles = math.max(1L, math.round(nBig.toDouble / bs)).toInt
        val stage = TmpDirs.create("graft-pipesweep-feed")
        // round-robin repartition → nFiles near-equal text files, each
        // one micro-batch under maxFilesPerTrigger=1
        feedBig.repartition(nFiles).write.mode("overwrite").text(stage)
        val outDir = TmpDirs.create("graft-pipesweep-out")
        val ck = TmpDirs.create("graft-pipesweep-ck")
        val src = streaming.NpmStream.fileSource(spark, stage, maxFilesPerTrigger = 1)
        val s0 = Bench.cpuStat()
        val t0 = System.nanoTime()
        val q = streaming.NpmStream.start(spark, src, outDir, ck)
        q.awaitTermination()
        val dt2 = (System.nanoTime() - t0) / 1e9
        val steal2 = for { (a0, b0) <- s0; (a1, b1) <- Bench.cpuStat() if b1 > b0 }
          yield (a1 - a0) * 100.0 / (b1 - b0)
        val nBatches = Option(new java.io.File(s"$outDir/catalog").listFiles())
          .map(_.count(_.getName.startsWith("batch_id="))).getOrElse(0)
        val actualRows = if (nBatches > 0) nBig / nBatches else nBig
        println(
          s"""{"metric":"pipeline_sweep_changes_per_sec","batch_rows":$bs,"batch_rows_actual":$actualRows,"value":${f("%.0f", nBig / dt2)},"unit":"changes/sec","changes":$nBig,"n_batches":$nBatches,"sec":${f("%.3f", dt2)},"host_steal_pct":${steal2.map(f("%.3f", _)).getOrElse("null")},"sf":"$sfDir"}""")
        Seq(stage, outDir, ck).foreach(TmpDirs.deleteRec)
      }
    }
    spark.stop()
  }
}
