package graft

import org.apache.spark.sql.SparkSession

/** The session every main (Bench, Verify, PipelineBench, Explain) runs
  * on: `local[cores]` with `cores` shuffle partitions, UTC
  * session time, parquet nanos read as LONG, the local checkpoint
  * manager and no UI. Each main sets its own log level.
  */
object LocalSession {
  /** Core count of the measured mains: `$SPARK_GRAFT_CPUS`, default 32. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def apply(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // local-mode checkpoint I/O: java.nio + atomic rename, no Hadoop
      // ChecksumFs (.crc siblings) — DESIGN.md round 15 measured ~125 ms
      // of each ~315 ms AvailableNow micro-batch in walCommit/
      // commitOffsets/latestOffset under the default manager, ~1 ms under
      // this one. Cluster deployments keep the default by not setting
      // the conf.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.LocalNioCheckpointFileManager")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
