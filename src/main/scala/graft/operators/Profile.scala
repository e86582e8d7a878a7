package graft.operators

/** Declared-query timer: times named `SparkEntry` queries, each on a
  * settled session (pinned surfaces swept, GC run), for a number of
  * passes.
  *
  *     Profile q <n_passes> <name>[,name...]
  *
  * Reads the tables from `$SPARK_GRAFT_SF_DIR` on
  * `local[$SPARK_GRAFT_CPUS]` (default 32 cores).
  * Prior rounds' measured numbers live in DESIGN.md / OPTIMIZATION_*.md.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 && args(0) == "q",
      "usage: Profile q <n_passes> <name>[,name...]")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession(graft.LocalSession.envCores)
    spark.sparkContext.setLogLevel("ERROR")
    val passes = args(1).toInt
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    for (pass <- 1 to passes) {
      println(s"-- q pass $pass")
      names.foreach { n =>
        graft.PinnedStorage.sweep(spark, blocking = true)
        System.gc()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, dir).count()
        println(f"[prof] $n%-52s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      }
    }
    spark.stop()
  }
}
