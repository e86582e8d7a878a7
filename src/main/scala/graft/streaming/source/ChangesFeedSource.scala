package graft.streaming.source

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util

import scala.collection.immutable.SortedSet
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S1 as a REAL custom streaming source (SURVEY §2.1 deferred this as
  * "a real impl would be a custom SparkDataStream (MicroBatchStream)"):
  * a DataSource V2 `MicroBatchStream` serving a directory of immutable,
  * name-ordered JSONL change dumps — the shape the reference's feed
  * snapshots and backfill directory take — with the consumed position as
  * a proper replayable `Offset`, so Structured Streaming's checkpoint
  * gives resume/exactly-once delivery for free (the engine persists the
  * offset JSON and replays uncommitted ranges; this class only has to
  * make `planInputPartitions(start, end)` deterministic).
  *
  * Contract: files are append-new-only and immutable once visible;
  * arrival ORDER is arbitrary. The offset is the SET of consumed file
  * names (FileStreamSource's seen-log semantics, carried in the offset
  * itself): a batch is exactly `end.names -- start.names`, so a late
  * file sorting below every already-consumed name is still delivered
  * exactly once — the r5 name-watermark design silently skipped it —
  * and `latestOffset` is monotone by construction (the union with
  * everything previously seen), so a transient empty/unlistable
  * directory can never regress the offset and re-deliver consumed
  * files. Cost: the offset JSON grows O(#files); right for the
  * reference's dump-directory shape (thousands of files). A
  * millions-of-files feed would move the seen log to checkpoint-side
  * compacted metadata exactly as FileStreamSource does — same
  * semantics, same planInputPartitions, different persistence.
  *
  * Offsets store DIRECTORY-RELATIVE file names, resolved against the
  * `path` option at plan time: a relocated/remounted feed directory or
  * a re-spelled path option across a restart leaves every persisted
  * name valid, where absolute paths would silently rename the entire
  * universe and re-deliver the whole feed as "unconsumed".
  * Deserialization accepts only that array form (anything else fails
  * fast) and cross-checks a non-empty offset against a non-empty
  * current listing, FAILING FAST on zero overlap — consumed files are
  * immutable and never deleted, so total disjointness means the path
  * option points at a different feed than the checkpoint consumed.
  *
  * Usage: `spark.readStream.format("npm-changes-feed")
  *   .option("path", dir).load()` → one `value: string` column, the
  * exact shape NpmStream's pipeline stages consume.
  */
class ChangesFeedProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "npm-changes-feed"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangesFeedSource.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("npm-changes-feed requires option 'path'"))
    new ChangesFeedTable(path)
  }
}

object ChangesFeedSource {
  val schema: StructType = StructType(Seq(StructField("value", StringType)))

  /** Sorted listing of the feed files as DIRECTORY-RELATIVE names (the
    * form offsets persist — see the class scaladoc). The directory
    * stream is closed eagerly: this runs at least twice per trigger for
    * the stream's lifetime, and unclosed Files.list handles leak file
    * descriptors until GC.
    */
  def listFiles(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val stream = Files.list(p)
      try stream.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toList.sorted
      finally stream.close()
    }
  }
}

class ChangesFeedTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"npm-changes-feed($path)"
  override def schema(): StructType = ChangesFeedSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ChangesFeedSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ChangesFeedMicroBatchStream(path)
      }
    }
}

/** Offset = the SET of consumed file names, serialized as a sorted JSON
  * array (sorted ⇒ byte-identical JSON for equal sets, so the engine's
  * offset comparisons behave).
  */
case class SeenFilesOffset(names: SortedSet[String]) extends Offset {
  override def json(): String = SeenFilesOffset.mapper.writeValueAsString(
    names.toArray)
}

object SeenFilesOffset {
  private[source] val mapper = new ObjectMapper()

  /** Parse an offset against the configured feed `dir`.
    *
    * The offset must be the JSON array of consumed relative names that
    * [[SeenFilesOffset.json]] writes; anything else FAILS FAST, naming
    * the offset and the feed. A non-empty parsed set is then
    * cross-checked against a non-empty current listing and FAILS FAST
    * on ZERO overlap: consumed files are immutable and never deleted,
    * so a healthy feed dir always still contains them — total
    * disjointness means the path option points at a different feed than
    * the checkpoint consumed, and proceeding would interleave two feeds
    * and re-deliver this one wholesale. (An EMPTY listing stays
    * permissive: a momentarily unlistable mount must not kill a restart
    * that the monotone seen-set already protects.)
    */
  def parse(json: String, dir: String): SeenFilesOffset = {
    if (!json.startsWith("[")) throw new IllegalStateException(
      s"npm-changes-feed: checkpoint offset '$json' for feed '$dir' is not " +
        "a JSON array of consumed file names")
    val names = SortedSet.from(mapper.readValue(json, classOf[Array[String]]))
    if (names.nonEmpty) {
      val listed = ChangesFeedSource.listFiles(dir)
      if (listed.nonEmpty && !listed.exists(names.contains)) {
        throw new IllegalStateException(
          s"npm-changes-feed: none of the ${names.size} consumed file names " +
            s"in the checkpoint offset appear under '$dir' (${listed.size} " +
            "files listed) — the path option points at a different feed " +
            "than the checkpoint consumed; refusing to re-deliver it " +
            "wholesale against the wrong directory")
      }
    }
    SeenFilesOffset(names)
  }
}

class ChangesFeedMicroBatchStream(path: String) extends MicroBatchStream {

  /** Everything this stream instance knows to be at-or-past the engine's
    * start offset. Seeded from every offset the engine hands back
    * (deserializeOffset on restart, commit during a run) and unioned
    * with each listing, so latestOffset can never move backwards — a
    * momentarily empty or unlistable directory (unmount, NFS blip)
    * yields the previous set, not a regressed offset that would
    * re-deliver every consumed file after a restart.
    */
  @volatile private var seen: SortedSet[String] = SortedSet.empty

  private def remember(names: Iterable[String]): SortedSet[String] =
    synchronized { seen = seen ++ names; seen }

  override def initialOffset(): Offset = SeenFilesOffset(SortedSet.empty)

  override def latestOffset(): Offset =
    SeenFilesOffset(remember(ChangesFeedSource.listFiles(path)))

  override def deserializeOffset(json: String): Offset = {
    val o = SeenFilesOffset.parse(json, path)
    remember(o.names)
    o
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SeenFilesOffset].names
    val e = end.asInstanceOf[SeenFilesOffset].names
    // a batch is the set difference of two persisted offsets — no
    // listing at plan time, so replaying an uncommitted batch after a
    // crash plans the identical file set (files are immutable). Offsets
    // carry dir-relative names; the reader path resolves against the
    // CURRENT path option here, so a relocated feed dir reads the same
    // files from their new home.
    (e -- s).toSeq
      .map(f => ChangesFilePartition(Paths.get(path).resolve(f).toString): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ChangesFeedReaderFactory

  override def commit(end: Offset): Unit =
    remember(end.asInstanceOf[SeenFilesOffset].names)
  override def stop(): Unit = ()
}

case class ChangesFilePartition(file: String) extends InputPartition

object ChangesFeedReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[ChangesFilePartition].file
    new PartitionReader[InternalRow] {
      // streamed, not readAllLines: change lines run up to the 10 MB
      // broker cap each, so materializing a whole dump file would cost
      // O(file) heap per open partition instead of O(one line)
      private val reader = Files.newBufferedReader(Paths.get(file), StandardCharsets.UTF_8)
      private var current: String = _
      override def next(): Boolean = {
        var line = reader.readLine()
        while (line != null && line.isEmpty) line = reader.readLine()
        current = line
        line != null
      }
      override def get(): InternalRow = InternalRow(UTF8String.fromString(current))
      override def close(): Unit = reader.close()
    }
  }
}
