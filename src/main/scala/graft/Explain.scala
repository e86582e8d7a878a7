package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan auditor: prints the formatted physical plan for each declared
  * query (or the names given as args) so pushdown/broadcast/codegen
  * claims in DESIGN.md can be checked against reality:
  * `scripts/run_main.sh graft.Explain q1_pricing_summary q5_local_supplier_volume`
  *
  * Expression and plan ids are renumbered per query (see
  * [[renumberIds]]), so two runs whose plans match print identical text
  * and diff to empty.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    // building a live query's frame stages its feed under TmpDirs
    try names.foreach { name =>
      println(s"\n========== $name ==========")
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        println(renumberIds(df.queryExecution.explainString(ExplainMode.fromString("formatted"))))
      } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    } finally TmpDirs.sweepOwned(TmpDirs.root)
    spark.stop()
  }

  /** Rewrites every expression id (`#<n>`) and exchange plan id
    * (`plan_id=<n>`) to its rank of first appearance in `plan` (#0, #1,
    * ...): the raw ids come from JVM-global counters, so they shift with
    * everything the process planned before. */
  private[graft] def renumberIds(plan: String): String =
    Seq("#", "plan_id=").foldLeft(plan) { (p, prefix) =>
      val ids = scala.collection.mutable.Map.empty[String, Int]
      s"$prefix\\d+".r.replaceAllIn(p, m => prefix + ids.getOrElseUpdate(m.matched, ids.size))
    }
}
