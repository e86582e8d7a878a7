package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across suites (object-held so the JVM
  * reuses it; per-suite sessions would pay ~5 s startup each).
  */
object SparkSpec {
  /** The session's warehouse dir. It must outlive every suite, so it is
    * made outside the owned family that each suite's teardown sweeps,
    * and deleted when the test JVM exits. */
  private lazy val warehouseDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-wh").toString
    sys.addShutdownHook(TmpDirs.deleteRec(d))
    d
  }

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
    .config("spark.sql.warehouse.dir", warehouseDir)
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
