package graft.streaming

import java.util.concurrent.Executors

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.npm.{Pipeline, Retention, model}

/** Structured Streaming binding of the NPM pipeline (SURVEY.md §3.1-3.2).
  *
  * The stages are the exact same DataFrame functions as the batch replay
  * (graft.npm.Pipeline); only source/sink/trigger differ (§7.1). The
  * reference's hand-rolled offset file (K7/S5: update_seq.json,
  * producer.ts:151) and its restart-from-last-Kafka-message bootstrap
  * (run_scripts.sh:10) collapse into the checkpointLocation; its
  * at-least-once commit-after-process loop (changes_consumer.py:408)
  * becomes micro-batch + an idempotent per-batch parquet overwrite,
  * deduplicated by seq (exactly-once upgrade, SURVEY.md §2.9).
  */
object NpmStream {

  /** S3: the canonical Kafka ingress (topic npm-changes). The reader
    * builder is split from load() so KafkaSurfaceSpec can pin every
    * option on the ACTUAL Spark builder (no connector jar in this
    * environment, so load() itself can only run in production); the
    * MemoryStream/file sources drive the identical downstream plan in
    * tests.
    */
  def kafkaSourceReader(
      spark: SparkSession,
      servers: String,
      topic: String = "npm-changes"): org.apache.spark.sql.streaming.DataStreamReader =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      // reference caps: broker message 10 MB (docker-compose.yml:44),
      // consumer fetch 10 MB (changes_consumer.py:68)
      .option("kafka.max.partition.fetch.bytes", (10 * 1024 * 1024).toString)
      // bound each micro-batch (reference has no backpressure at all, O6)
      .option("maxOffsetsPerTrigger", "100000")

  def kafkaSource(spark: SparkSession, servers: String, topic: String = "npm-changes"): DataFrame =
    kafkaSourceReader(spark, servers, topic)
      .load()
      .select(col("value").cast("string").as("value"))

  /** K1/K2/K3: Kafka sink builder for the change/audit/DLQ topics —
    * gzip-compressed values keyed by seq (reference: producer.ts:172-183,
    * key `:180`, compression `:178`; broker cap docker-compose.yml:44).
    * F8/E2 produce-failure fallback: feed this sink the `fit` side of
    * Pipeline.splitOversized and write the oversized side to the
    * skipped_changes topic — the declarative form of the reference's
    * catch-MSG_SIZE_TOO_LARGE-and-DLQ (producer.ts:185-194); the
    * remaining `kafka.max.request.size` is belt-and-braces for values
    * that grow past the cap after keying/serialization.
    * No broker in this environment; NpmStreamSpec drives the identical
    * upstream plan through MemoryStream/file sources and pins this
    * builder's options at plan level.
    */
  def kafkaSink(
      df: DataFrame,
      servers: String,
      topic: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.selectExpr("CAST(seq AS STRING) AS key", "value")
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("kafka.compression.type", "gzip")
      .option("kafka.max.request.size", (10 * 1024 * 1024).toString)
      .option("checkpointLocation", checkpointDir)

  /** S1-parity test source: a directory of JSONL change files. */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    fileSource(spark, dir, maxFilesPerTrigger = 4)

  /** As above with an explicit per-trigger file cap — PipelineBench's
    * batch-size sweep stages one file per intended micro-batch and sets
    * the cap to 1, so `file rows = maxOffsetsPerTrigger` in effect. */
  def fileSource(spark: SparkSession, dir: String, maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .text(dir)

  /** Write one micro-batch's four outputs idempotently: each sink is a
    * plain overwrite of its OWN `<sink>/batch_id=<batchId>` directory, so
    * a re-run of the batch replaces its previous output and a new batch
    * lands alongside. A plain append would be at-least-once: a crash
    * between the parquet writes and the checkpoint commit re-runs the
    * batch on restart and duplicates every row (within-batch
    * dropDuplicates can't see the earlier run's output); overwriting its
    * own directory makes the re-run replace that output instead —
    * exactly-once per seq end to end. Readers see `batch_id` as a
    * discovered partition column (IntegerType). Writing the directory
    * directly, rather than `partitionBy` under dynamic partition
    * overwrite, keeps the plan the same for every batch (no per-batch
    * literal), skips the staging directory's list-and-rename, and leaves
    * a schema-bearing file even for an empty output, so every sink reads
    * back from the first batch on.
    *
    * The four writes start at once, on a pool of four daemon threads
    * made and shut down inside this call; each thread carries the batch's
    * session and local properties (job group, execution id). All four
    * read the replay's one cached routed frame, whose block locks compute
    * each partition once, so each passing row's tarball is still fetched
    * once. The call waits for every write, even when one fails, then
    * releases that frame, so a long-running stream holds no cache from
    * finished batches, and rethrows the first failed write's own
    * exception.
    */
  def writeBatchOutputs(r: Pipeline.PipelineResult, outDir: String, batchId: Long): Unit = {
    val sinks = Seq(
      "catalog" -> r.catalog.dropDuplicates("change_seq_id"),
      "skipped" -> r.skipped,
      "audit" -> r.audit,
      "deleted_zips" -> r.deletions)
    val session = r.routed.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val pool = Executors.newFixedThreadPool(sinks.size, { (task: Runnable) =>
      val t = new Thread(task, s"npm-sink-batch-$batchId")
      t.setDaemon(true)
      t
    })
    try {
      val writes = sinks.map { case (sink, df) =>
        SQLExecution.withThreadLocalCaptured(session, pool) {
          df.write.mode("overwrite").parquet(s"$outDir/$sink/batch_id=$batchId")
        }
      }
      // join() waits without being interruptible, so no write is still
      // running when the frame is released; it wraps the write's own
      // exception in a CompletionException
      writes.flatMap(w => Try(w.join()).failed.toOption).headOption.foreach(e => throw e.getCause)
    } finally {
      pool.shutdown()
      r.routed.unpersist()
    }
  }

  /** Run the pipeline as one streaming query: each micro-batch is one
    * `Pipeline.replay`, then [[writeBatchOutputs]] writes its four
    * parquet sinks concurrently, each to `<outDir>/<sink>/batch_id=<id>`,
    * before the checkpoint commits the batch; a restart that re-runs the
    * last batch overwrites those directories rather than appending.
    * Retention state lives inside the batch replay here (per-batch
    * exactness); the pure streaming-state variant is
    * Retention.streamingEvictions, tested separately.
    */
  def start(
      spark: SparkSession,
      source: DataFrame,
      outDir: String,
      checkpointDir: String,
      fetcher: Pipeline.Fetcher = Pipeline.AlwaysOk): StreamingQuery = {
    implicit val s: SparkSession = spark
    source.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchOutputs(Pipeline.replay(batch, fetcher), outDir, batchId)
      }
      .start()
  }

  /** Cross-batch retention as a first-class streaming query: the same
    * change feed drives Retention.streamingEvictions
    * (flatMapGroupsWithState keyed by package dir — state survives
    * micro-batch boundaries and restarts via the checkpoint), writing the
    * deletion log continuously. This is the faithful A5 form; the
    * foreachBatch replay above applies retention within each batch only.
    */
  def startRetention(
      spark: SparkSession,
      source: DataFrame,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    implicit val s: SparkSession = spark
    val parsed = Pipeline.parse(source)
    val arrivals = Pipeline.withDerived(Pipeline.normalize(parsed))
      .filter(col("reject_reason").isNull)
      .select(col("package_dir"), col("zip_name").as("file_name"),
        col("seq").as("ctime"), col("retention_triggered"))
      .as(Retention.zipArrivalEncoder)
    Retention.streamingEvictions(arrivals).toDF()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", s"$outDir/deleted_zips_stream")
      .start()
  }

  /** A3-style driver-side lag monitor: compares the newest seq the
    * "registry" (source) knows about against the last seq the catalog
    * processed — the reference restarts the producer when
    * lag > init_lag + 200 (producer.ts:206-242). Returns the lag so a
    * supervision loop can apply the same policy.
    */
  def currentLag(spark: SparkSession, newestSeq: Long, outDir: String): Long = {
    val last =
      try spark.read.parquet(s"$outDir/catalog")
        .agg(max(col("change_seq_id"))).head().getLong(0)
      catch { case _: Throwable => 0L }
    newestSeq - last
  }
}
