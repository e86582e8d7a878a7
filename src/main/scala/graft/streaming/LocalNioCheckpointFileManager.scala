package graft.streaming

import java.io.BufferedOutputStream
import java.net.URI
import java.nio.file.{Files, StandardCopyOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, FSDataOutputStream, Path, PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Local-mode [[CheckpointFileManager]]: java.nio writes + POSIX atomic
  * rename, no checksum siblings, no FileContext layer.
  *
  * Why it exists (r14 verdict item 4): the streaming family's suite cost
  * is dominated by a fixed per-micro-batch engine floor, and the
  * durationMs decomposition in DESIGN.md round 15 attributes ~125 ms
  * of each ~315 ms AvailableNow batch to METADATA-LOG I/O (walCommit +
  * commitOffsets + latestOffset), all routed through the default
  * checkpoint manager. That default stacks Hadoop's ChecksumFs (every
  * tiny offsets/commit/state-delta file gets a `.crc` sibling — double
  * the file ops) under the FileContext API — exactly right for HDFS/S3
  * durability, pure overhead for a single-host `file:` checkpoint where
  * the OS page cache and POSIX rename(2) already give the atomicity the
  * protocol needs.
  *
  * Selected via `spark.sql.streaming.checkpointFileManagerClass` in the
  * local sessions ([[graft.LocalSession]], tests); a cluster deployment with a
  * durable checkpoint store keeps the default by simply not setting the
  * conf. Semantics preserved end to end: createAtomic stays
  * write-temp-then-atomic-rename (crash-consistent — a reader never
  * observes a partial file), non-overwrite commits publish via link(2)
  * — atomic fail-if-exists, no check-then-rename race window — and
  * raise Hadoop's FileAlreadyExistsException (HDFSMetadataLog's
  * concurrent-writer protocol detects batch races through exactly that
  * signal), and
  * open/list/delete delegate to [[RawLocalFileSystem]] so FileStatus and
  * seekable-stream behavior match the stock manager bit for bit.
  */
class LocalNioCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  // raw local fs (no ChecksumFileSystem wrapper): used for the read/list
  // surface where Hadoop types (FileStatus, seekable FSDataInputStream)
  // are part of the interface contract. Bound to the MANAGED path's
  // scheme, not hardcoded file: — the test harness also runs local
  // checkpoints under its localfs: alias scheme (testfs.ChecksumLocalFs),
  // and both name the same local disk.
  private val scheme: String = Option(path.toUri.getScheme).getOrElse("file")
  private val fs: RawLocalFileSystem = {
    val f = new RawLocalFileSystem() {
      override def getUri: URI = URI.create(s"$scheme:///")
      override def checkPath(p: Path): Unit = {
        val s = p.toUri.getScheme
        if (s != null && s != "file" && s != scheme) super.checkPath(p)
      }
    }
    f.initialize(URI.create(s"$scheme:///"), hadoopConf)
    f
  }

  private def nio(p: Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri.getPath)

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val tmp = new Path(p.getParent, s".${p.getName}.${UUID.randomUUID}.tmp")
    val tmpN = nio(tmp)
    if (tmpN.getParent != null) Files.createDirectories(tmpN.getParent)
    val out = new BufferedOutputStream(Files.newOutputStream(tmpN))
    // same write-temp / rename-on-close / delete-on-cancel protocol as
    // Spark's RenameBasedFSDataOutputStream (which is sealed away behind
    // RenameHelperMethods), over java.nio primitives
    new CancellableFSDataOutputStream(out) {
      @volatile private var terminated = false
      override def close(): Unit = this.synchronized {
        if (!terminated) {
          terminated = true
          super.close()
          renameTempFile(tmp, p, overwriteIfPossible)
        }
      }
      override def cancel(): Unit = this.synchronized {
        if (!terminated) {
          terminated = true
          try super.close() catch { case _: Throwable => () }
          Files.deleteIfExists(tmpN): Unit
        }
      }
    }
  }

  private def renameTempFile(srcPath: Path, dstPath: Path,
      overwriteIfPossible: Boolean): Unit = {
    val src = nio(srcPath); val dst = nio(dstPath)
    def collision(): Nothing = {
      Files.deleteIfExists(src)
      throw new FileAlreadyExistsException(
        s"Failed to rename $srcPath to $dstPath as destination already exists")
    }
    // the pre-r16 non-overwrite path, kept as the fallback for
    // filesystems without link(2): check-then-rename has a (mostly
    // theoretical, single-driver local mode) race window but works
    // everywhere ATOMIC_MOVE does
    def checkThenMove(): Unit = {
      if (!overwriteIfPossible && Files.exists(dst)) collision()
      try Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      catch {
        // ATOMIC_MOVE over an existing target may fail on some
        // filesystems even in the overwrite case — don't leak the temp
        // before surfacing the signal
        case _: java.nio.file.FileAlreadyExistsException => collision()
      }
    }
    if (!overwriteIfPossible) {
      // POSIX rename(2) silently replaces an existing target, and a
      // check-then-rename pair leaves a race window in which a
      // concurrent writer's committed file could be replaced with the
      // loser's (r15 advice). link(2) is the atomic fail-if-exists
      // publish: hard-link the temp to the final name (EEXIST → the
      // Hadoop exception type HDFSMetadataLog's concurrent-writer
      // protocol keys on), then drop the temp name.
      // the try covers ONLY the link itself (r16 advice): if the temp
      // unlink below were inside it and threw after a successful link,
      // the handler would see dst existing — freshly linked by US — and
      // raise the collision signal for a commit that succeeded, which
      // HDFSMetadataLog escalates to a spurious concurrent-writer
      // failure.
      val linked =
        try { Files.createLink(dst, src); true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => collision()
          case _: UnsupportedOperationException => false
          case _: java.nio.file.FileSystemException =>
            // the nio spec marks FileAlreadyExistsException as an
            // OPTIONAL specific exception for createLink — a provider may
            // surface EEXIST as a plain FileSystemException. Disambiguate
            // by looking at the target: present → it was a collision;
            // absent → a linkless filesystem (exFAT, some network
            // mounts) → fall back to the pre-r16 rename path.
            if (Files.exists(dst)) collision() else false
        }
      if (linked) {
        // post-publish cleanup is best-effort: the commit is already
        // durable under its final name, so a failure to drop the temp
        // name must never surface as a commit failure
        try Files.deleteIfExists(src): Unit catch { case _: Throwable => () }
      } else checkThenMove()
    } else checkThenMove()
  }

  override def open(p: Path): FSDataInputStream = fs.open(p)

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    fs.listStatus(p, filter)

  override def mkdirs(p: Path): Unit = Files.createDirectories(nio(p)): Unit

  override def exists(p: Path): Boolean = Files.exists(nio(p))

  override def delete(p: Path): Unit =
    try fs.delete(p, true): Unit
    catch { case _: java.io.FileNotFoundException => () }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    mkdirs(path)
    fs.makeQualified(path)
  }
}
