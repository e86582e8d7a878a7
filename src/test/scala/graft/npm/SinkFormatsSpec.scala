package graft.npm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The catalog/DLQ sinks are format-agnostic DataFrame writes — prove the
  * two other formats a mirror deployment realistically lands in (ORC for
  * warehouse interop, JSON lines for downstream non-Spark consumers)
  * round-trip the full catalog row, including nested author/maintainer
  * structs, dependency maps, and timestamps.
  */
class SinkFormatsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val catalog =
    Pipeline.replay(Fixtures.withFetch404.toDF("value"), Fixtures.RoutingFetcher)
      .catalog.cache()

  /** Canonical row images for comparison across formats. */
  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(catalog.columns.sorted.map(col).toIndexedSeq: _*)
      .toJSON.collect().toSet

  test("catalog round-trips through ORC bit-for-bit") {
    val dir = graft.TmpDirs.create("graft-catorc")
    catalog.write.mode("overwrite").orc(dir)
    assert(canon(spark.read.orc(dir)) == canon(catalog))
    assert(catalog.count() > 0)
  }

  test("catalog round-trips through JSON lines with schema-on-read") {
    val dir = graft.TmpDirs.create("graft-catjson")
    catalog.write.mode("overwrite").json(dir)
    // schema-on-read: JSON carries no types, the reader must supply them
    // (timestamps would otherwise come back as strings)
    val back = spark.read.schema(catalog.schema).json(dir)
    assert(canon(back) == canon(catalog))
  }

  test("DLQ rows round-trip through CSV (the simplest ops-facing export)") {
    val skipped = Pipeline
      .replay(Fixtures.withFetch404.toDF("value"), Fixtures.RoutingFetcher)
      .skipped
    val dir = graft.TmpDirs.create("graft-dlqcsv")
    skipped.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(skipped.schema).option("header", "true").csv(dir)
    assert(back.orderBy("seq").collect().toSeq
      == skipped.orderBy("seq").collect().toSeq)
    assert(back.count() > 0)
  }
}
