package graft.npm

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class BackfillSpec extends SparkSpec {

  import spark.implicits._

  private def mkTree(): String = {
    val root = graft.TmpDirs.create("graft-backfill")
    def put(rel: String, content: String): Unit = {
      val p = Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes("UTF-8"))
    }
    // package p1: two doc snapshots → the later one wins
    put("A/p1/2023-01-01T00:00:00.100000Z.json",
      """{"_id":"p1","_rev":"1-a","name":"p1"}""")
    put("A/p1/2023-06-01T12:30:00.500000Z.json",
      """{"_id":"p1","_rev":"2-b","name":"p1"}""")
    put("A/p1/p1_package.tgz", "binary")
    // package p2: one snapshot
    put("B/p2/2023-03-05T08:00:00.000001Z.json",
      """{"_id":"p2","_rev":"7-x","name":"p2"}""")
    // stray non-matching json is ignored
    put("B/p2/notes.json", """{"_id":"ignored"}""")
    root
  }

  test("S7: latest JSON per package wins by filename timestamp (T8)") {
    val root = mkTree()
    val winners = Backfill.latestJsonPerPackage(spark, root)
      .select("latest_json_path").as[String].collect().sorted
    assert(winners.length == 2)
    assert(winners.exists(_.endsWith("A/p1/2023-06-01T12:30:00.500000Z.json")))
    assert(winners.exists(_.endsWith("B/p2/2023-03-05T08:00:00.000001Z.json")))
  }

  test("S7: backfill projects P2 fields from the winning docs") {
    val root = mkTree()
    val rows = Backfill.backfillCatalog(spark, root)
      .select("_id", "_rev", "name").as[(String, String, String)].collect().sortBy(_._1)
    assert(rows.toList == List(("p1", "2-b", "p1"), ("p2", "7-x", "p2")))
  }
}
