package graft

import java.nio.file.{Files, Path, Paths}

/** Per-process staging-directory factory for the live streaming queries
  * (feed + checkpoint dirs under java.io.tmpdir), and the sweep that
  * deletes them between queries.
  *
  * Every staged dir embeds a per-process nonce (the JVM pid) in its name
  * so the Bench/Verify between-query sweeps can delete ONLY dirs this
  * process created: an mtime/"created after process start" heuristic is
  * not ownership — a concurrent `sbt test` or a second Bench/Verify run
  * staging under the same prefixes would get its live feed/checkpoint
  * dirs recursively deleted mid-query (r12 advisory). The nonce makes
  * ownership exact; a crash leaves at most one process's dirs behind,
  * which the next OS tmp cleanup (or a manual sweep) reclaims.
  */
object TmpDirs {
  /** Name fragment present in every dir this process stages. */
  val nonceTag: String = s"-p${ProcessHandle.current().pid()}-"

  /** Where [[create]] stages: java.io.tmpdir. */
  val root: Path = Paths.get(System.getProperty("java.io.tmpdir"))

  /** The one staged family; the sweep only scans names starting with it. */
  private val SweepPrefix = "graft-"

  /** Create a staged tmp dir whose name carries this process's nonce.
    * `prefix` must keep starting with "graft-" so the sweep's prefix
    * filter still scopes the scan.
    */
  def create(prefix: String): String =
    Files.createTempDirectory(prefix + nonceTag).toString

  /** The entries directly under `dir` that this process staged. */
  private def ownTmpEntries(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      val b = Seq.newBuilder[Path]
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.startsWith(SweepPrefix) && n.contains(nonceTag)) b += p
      }
      b.result()
    } finally s.close()
  }

  /** Best-effort recursive delete of a file or directory tree. */
  def deleteRec(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.listFiles()).foreach(_.foreach(c => deleteRec(c.getPath)))
    f.delete(): Unit
  }

  /** Delete every entry under `dir` this process staged; other
    * processes' dirs, whatever their prefix, are left alone. */
  def sweepOwned(dir: Path): Unit =
    ownTmpEntries(dir).foreach(p =>
      try deleteRec(p.toString) catch { case _: Throwable => () })
}
