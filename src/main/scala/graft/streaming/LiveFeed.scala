package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one place the live streaming queries stage, order and checkpoint
  * their micro-batches: each query's input is written as file drops,
  * replayed one drop per micro-batch through a file-source stream and
  * run to completion under `Trigger.AvailableNow`, so the DuckDB oracle
  * checks the streaming engine's output, state management included.
  *
  * - Session: an isolated child session with 4 shuffle partitions. The
  *   stateful stage's partition count is baked into the checkpoint at
  *   start; 32 partitions would mean 32 state stores per operator per
  *   micro-batch, almost all holding a handful of rows, so it is sized
  *   to the state volume (production: size it to the cluster). The child
  *   session scopes the conf, and any state-store provider a query sets,
  *   to that query.
  * - Staging: every drop is one single-task `coalesce(1)` write, one
  *   file per drop. The writes run concurrently (they touch disjoint
  *   dirs; serially they cost their sum while each used one core: 4
  *   writes 0.63–1.7 s serial vs 0.17–0.29 s concurrent). Then each
  *   drop's files get their modification time pinned, 60 s apart in drop
  *   order. The file source orders batches by modification time, so
  *   drop k is batch k whichever write finished first, and a coarse-mtime
  *   filesystem cannot tie two drops. Order-dependent queries (watermarks
  *   cut at a drop boundary, per-batch snapshots) rely on this.
  * - Checkpoint: RocksDB's file manager hard-casts its FileSystem to
  *   Hadoop's checksum `LocalFileSystem`. Where `file:` is bound to
  *   `RawLocalFileSystem` (the test session, see `testfs.ChecksumLocalFs`)
  *   the checkpoint goes under the `localfs:` alias of the same disk.
  */
final class LiveFeed private (val session: SparkSession, val base: String) {

  /** This feed's checkpoint location. */
  val checkpoint: String = {
    val raw = session.sparkContext.hadoopConfiguration.get("fs.file.impl", "")
      .contains("RawLocalFileSystem")
    s"${if (raw) "localfs://" else ""}$base/ckpt"
  }

  /** Stage each named source's drops (see the class doc) and open one
    * `maxFilesPerTrigger=1` stream per source, in argument order. */
  def streams(sources: (String, Seq[DataFrame])*): Seq[DataFrame] = {
    val drops = for ((src, ds) <- sources; (d, k) <- ds.zipWithIndex)
      yield (d, s"$base/$src/d$k", ds.size - k)
    Await.result(Future.sequence(drops.map { case (d, path, _) =>
      Future(d.coalesce(1).write.parquet(path))
    }), Duration.Inf)
    val now = System.currentTimeMillis()
    for ((_, path, fromLast) <- drops) {
      val t = FileTime.fromMillis(now - fromLast * 60000L)
      val files = Files.list(Paths.get(path))
      try files.forEach(p => Files.setLastModifiedTime(p, t)) finally files.close()
    }
    sources.map { case (src, ds) =>
      session.readStream.schema(ds.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/$src/*")
    }
  }

  /** [[streams]] for one source. */
  def stream(drops: DataFrame*): DataFrame = streams("in" -> drops).head

  /** Run `writer` to completion under AvailableNow, checkpointed here. */
  def run(writer: DataStreamWriter[_]): Unit =
    writer.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Append `result` to a parquet sink under this feed, run it to
    * completion and read the sink back. */
  def toParquet(result: Dataset[_]): DataFrame = {
    run(result.writeStream.outputMode("append").format("parquet")
      .option("path", s"$base/out"))
    session.read.parquet(s"$base/out")
  }
}

object LiveFeed {
  /** A feed staged under a fresh `TmpDirs` dir named `prefix`. */
  def apply(parent: SparkSession, prefix: String): LiveFeed = {
    val s = parent.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    new LiveFeed(s, graft.TmpDirs.create(prefix))
  }
}
