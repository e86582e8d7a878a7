package graft.npm

import graft.{SparkSpec, TmpDirs}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** The reference fans package storage out by a 3-char uppercased name
  * prefix (SUBDIRECTORY_HASH_LENGTH, reference app/changes_consumer.py:24,
  * 103-106) purely for filesystem ergonomics. The Spark-native form is a
  * Hive-style partitioned catalog on the same derived prefix — and unlike
  * the reference's layout, Catalyst then prunes partitions for
  * prefix-filtered queries. This spec pins that: the filtered read plans
  * PartitionFilters (pruning at the file listing, before any I/O).
  */
class PartitionedCatalogSpec extends SparkSpec {

  test("catalog partitioned by dir prefix is pruned on prefix filters") {
    val out = TmpDirs.create("graft-cat-part")
    val r = Pipeline.replay(NpmReplayOps.syntheticFeed(spark, "/root/testdata/sf0.001"))
    r.catalog
      .withColumn("dir_prefix", upper(substring(col("package_name"), 1, 3)))
      .write.mode("overwrite").partitionBy("dir_prefix").parquet(out)

    val back = spark.read.parquet(out)
    val prefixes = back.select("dir_prefix").distinct()
      .collect().map(_.getString(0)).sorted
    assert(prefixes.length >= 2, s"expected scoped+plain prefixes, got ${prefixes.toSeq}")

    val scoped = back.filter(col("dir_prefix") === "@GR")
    val plan = scoped.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") && plan.contains("dir_prefix"),
      "prefix filter did not become a partition filter")
    // pruned read returns exactly the scoped packages
    val expected = r.catalog.filter(col("package_name").startsWith("@graft/")).count()
    assert(scoped.count() == expected && expected > 0)
  }
}
