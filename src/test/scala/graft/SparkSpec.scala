package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across suites (object-held so the JVM
  * reuses it; per-suite sessions would pay ~5 s startup each).
  */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // same local-mode checkpoint manager as Bench/Verify (see
    // LocalNioCheckpointFileManager): tests exercise the exact manager
    // the measured entry points run
    .config("spark.sql.streaming.checkpointFileManagerClass",
      "graft.streaming.LocalNioCheckpointFileManager")
    // RawLocalFileSystem: no .crc sibling files — Hadoop's checksum FS
    // builds them as relative paths, which explodes on the reference's
    // ISO-8601 (colon-bearing) payload filenames (see npm.Backfill)
    .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    // a second local scheme keeping Hadoop's CHECKSUM LocalFileSystem
    // reachable: the RocksDB state store's file manager hard-casts to it,
    // so RocksDB-backed checkpoints use localfs:// paths (RetentionSpec)
    // while file:// stays raw for the colon-bearing payload filenames
    .config("spark.hadoop.fs.localfs.impl", "graft.testfs.ChecksumLocalFs")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** After each suite (suites run one at a time in the forked test JVM),
  * the same teardown `graft.Bench` runs between queries: unload the state
  * stores, then delete every tmp dir this JVM staged. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  implicit lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally {
      org.apache.spark.sql.graftaccess.StateStoreAccess.unloadAll()
      TmpDirs.sweepOwned(TmpDirs.root)
    }
}
