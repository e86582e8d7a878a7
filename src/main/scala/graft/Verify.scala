package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession(LocalSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local iteration (driver runs all)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // same suite hygiene as Bench: drop staged tmp dirs and cached
    // state-store providers between queries so ~260 sequential dumps in
    // one JVM don't accumulate disk + background maintenance work
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop non-pinned localCheckpoint/cache blocks so ~110 sequential
      // query dumps don't accumulate storage in one JVM (same as Bench)
      PinnedStorage.sweep(spark)
      try org.apache.spark.sql.graftaccess.StateStoreAccess.unloadAll()
      catch { case _: Throwable => () }
      TmpDirs.sweepOwned(TmpDirs.root)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a subset run writes only its own queries' SQL, so the compare
    // reports no "no spark output" for queries this run did not dump
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
