package graft.streaming

import graft.SparkSpec
import graft.npm.Fixtures
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** K1/S3 surface proof without a broker.
  *
  * The kafka connector jar is absent here, so the source/sink can't run —
  * but everything around them can be pinned:
  *  - a MemoryStream (the same `value: string` shape kafkaSource yields)
  *    drives NpmStream.start's EXACT stage chain end-to-end, proving the
  *    pipeline is source-agnostic: swapping in the Kafka source changes
  *    only the builder, not the plan;
  *  - reflection over the real DataStreamReader/DataStreamWriter builders
  *    asserts every contract option (topic, compression, caps,
  *    backpressure, checkpoint) actually reached Spark, not just our own
  *    option map.
  */
class KafkaSurfaceSpec extends SparkSpec {

  import spark.implicits._

  /** All field values of a builder (incl. inherited), as one string —
    * robust to Scala private-field name mangling across Spark versions.
    */
  private def fieldDump(o: AnyRef): String = {
    def all(c: Class[_]): Seq[java.lang.reflect.Field] =
      if (c == null) Nil else c.getDeclaredFields.toSeq ++ all(c.getSuperclass)
    all(o.getClass).map { f =>
      f.setAccessible(true)
      s"${f.getName}=${String.valueOf(f.get(o))}"
    }.mkString(";")
  }

  test("MemoryStream drives the exact start() chain: catalog/DLQ parity with the file source") {
    val base = graft.TmpDirs.create("graft-kafkasurface")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    ms.addData(Fixtures.withFetch404)
    val q = NpmStream.start(spark, ms.toDF().select(col("value")),
      outDir = s"$base/out", checkpointDir = s"$base/ckpt",
      fetcher = Fixtures.RoutingFetcher)
    q.awaitTermination()
    val catalog = spark.read.parquet(s"$base/out/catalog")
    assert(catalog.select("change_seq_id").as[Long].collect().toSet
      == Set(1L, 2L, 3L, 4L, 8L, 13L))
    val skipped = spark.read.parquet(s"$base/out/skipped")
    assert(skipped.filter(col("seq").isNotNull).count() == 6)
  }

  test("streaming path routes an oversized change to the DLQ sink (F8/E2)") {
    val base = graft.TmpDirs.create("graft-kafkaoversize")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pad = "x" * (graft.npm.model.MaxKafkaMessageBytes.toInt + 64)
    val ms = MemoryStream[String]
    ms.addData(Fixtures.withFetch404 :+ s"""{"seq":99,"id":"bigpkg","pad":"$pad"}""")
    val q = NpmStream.start(spark, ms.toDF().select(col("value")),
      outDir = s"$base/out", checkpointDir = s"$base/ckpt",
      fetcher = Fixtures.RoutingFetcher)
    q.awaitTermination()
    val row = spark.read.parquet(s"$base/out/skipped")
      .filter(col("seq") === 99).head()
    assert(row.getAs[String]("reason") == "msg_too_large")
    assert(row.getAs[String]("stage") == "produce")
    assert(spark.read.parquet(s"$base/out/catalog")
      .filter(col("change_seq_id") === 99).count() == 0)
  }

  test("kafka source builder carries the reference's subscription, caps, and backpressure") {
    val d = fieldDump(NpmStream.kafkaSourceReader(spark, "broker:9092"))
    assert(d.contains("kafka"), "source format is not kafka")
    assert(d.contains("broker:9092"))
    assert(d.contains("npm-changes"), "topic subscription missing")
    assert(d.contains("earliest"), "startingOffsets missing")
    assert(d.contains((10 * 1024 * 1024).toString), "10 MiB fetch cap missing")
    assert(d.contains("100000"), "maxOffsetsPerTrigger backpressure missing")
  }

  test("kafka sink builder carries topic, seq key, gzip, size cap, and checkpoint") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val streamDf = ms.toDF().toDF("seq", "value")
    val w = NpmStream.kafkaSink(streamDf, "broker:9092", "npm-changes", "/tmp/ckpt-kafka")
    val d = fieldDump(w)
    assert(d.contains("kafka"), "sink format is not kafka")
    assert(d.contains("broker:9092"))
    assert(d.contains("npm-changes"), "target topic missing")
    assert(d.contains("gzip"), "producer compression missing")
    assert(d.contains((10 * 1024 * 1024).toString), "max.request.size cap missing")
    assert(d.contains("/tmp/ckpt-kafka"), "checkpointLocation missing")
    // and the writer's input plan keys messages by seq, like producer.ts:180
    val cols = streamDf.selectExpr("CAST(seq AS STRING) AS key", "value").columns.toSeq
    assert(cols == Seq("key", "value"))
  }
}
