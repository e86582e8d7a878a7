package graft.npm

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import Retention._

class RetentionSpec extends SparkSpec {

  private def files(names: String*): Seq[(String, Long)] =
    names.zipWithIndex.map { case (n, i) => (n, i.toLong) }

  test("no eviction below the limit") {
    assert(evictOne(files("a.zip", "b.zip", "c.zip", "d.zip")).isEmpty)
  }

  test("at the limit the oldest is evicted") {
    assert(evictOne(files("a.zip", "b.zip", "c.zip", "d.zip", "e.zip")).contains("a.zip"))
  }

  test("a file whose successor is Deleted-* is exempt; scan moves on") {
    // a's successor is a Deleted marker → skip a; b(=Deleted-x) succeeded by c → evict it
    assert(evictOne(files("a.zip", "Deleted-x.zip", "c.zip", "d.zip", "e.zip"))
      .contains("Deleted-x.zip"))
  }

  test("all successors Deleted → nothing evicted") {
    assert(evictOne(files("a.zip", "Deleted-b.zip")).isEmpty ||
      evictOne(files("a.zip", "Deleted-b.zip")).isEmpty) // below limit anyway
    assert(evictOne(
      Seq(("a.zip", 0L), ("Deleted-b.zip", 1L), ("Deleted-c.zip", 2L),
        ("Deleted-d.zip", 3L), ("Deleted-e.zip", 4L)),
      limit = 5).isEmpty)
  }

  test("non-zip files are ignored for counting and candidacy") {
    assert(evictOne(files("a.zip", "b.zip", "c.txt", "d.zip", "e.zip")).isEmpty)
  }

  test("match is case-insensitive substring, like the reference regex") {
    assert(evictOne(
      Seq(("a.zip", 0L), ("x-DELETED-y.ZIP", 1L), ("c.zip", 2L), ("d.zip", 3L), ("e.zip", 4L)))
      .contains("x-DELETED-y.ZIP"))
  }

  test("replay evicts at most one per triggered arrival and threads state") {
    val arrivals = (1 to 8).map(i =>
      ZipArrival("d", s"f$i.zip", i.toLong, retention_triggered = true)).iterator
    val (state, evs) = replayPackage("d", arrivals)
    // arrivals 6,7,8 see ≥5 files each → three evictions of the then-oldest
    assert(evs.map(_.deleted_zip_path) == List("d/f1.zip", "d/f2.zip", "d/f3.zip"))
    assert(state.map(_._1) == Vector("f4.zip", "f5.zip", "f6.zip", "f7.zip", "f8.zip"))
  }

  test("untriggered arrivals never evict") {
    val arrivals = (1 to 8).map(i =>
      ZipArrival("d", s"f$i.zip", i.toLong, retention_triggered = false)).iterator
    assert(replayPackage("d", arrivals)._2.isEmpty)
  }

  test("batch operator groups by package and matches the pure replay") {
    import spark.implicits._
    val arrivals = Seq(
      ZipArrival("p1", "a.zip", 1, true), ZipArrival("p1", "b.zip", 2, true),
      ZipArrival("p1", "c.zip", 3, true), ZipArrival("p1", "d.zip", 4, true),
      ZipArrival("p1", "e.zip", 5, true), ZipArrival("p1", "f.zip", 6, true),
      ZipArrival("p2", "x.zip", 1, true)).toDS()
    val evs = Retention.evictions(arrivals).collect().toList
    assert(evs.map(_.deleted_zip_path) == List("p1/a.zip"))
  }

  test("streaming retention under the RocksDB state store provider (the 100 TB config)") {
    // DESIGN.md's scale choice for A5 state (~2.5M packages) — exercised
    // for real now that rocksdbjni is on the classpath, not config-only.
    // The provider conf lives on an ISOLATED newSession (own SQLConf,
    // shared SparkContext): suites run in parallel against the shared
    // session, and a session-wide provider swap would intermittently
    // hand RocksDB + file:// checkpoints to another suite's stateful
    // query mid-flight (r6 review finding).
    val s2 = spark.newSession()
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val ckpt = graft.TmpDirs.create("graft-rocksckpt")
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[ZipArrival]
    val q = Retention.streamingEvictions(input.toDS())
      .writeStream.format("memory").queryName("evictions_rocksdb")
      .option("checkpointLocation", s"localfs://$ckpt")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1 to 5).map(i => ZipArrival("p", s"f$i.zip", i.toLong, true)): _*)
      q.processAllAvailable()
      assert(s2.table("evictions_rocksdb").count() == 0)
      input.addData(ZipArrival("p", "f6.zip", 6, true))
      q.processAllAvailable()
      assert(s2.table("evictions_rocksdb").as[Eviction].collect()
        .map(_.deleted_zip_path).toList == List("p/f1.zip"))
    } finally q.stop()
  }

  test("streaming operator carries state across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ZipArrival]
    val q = Retention.streamingEvictions(input.toDS())
      .writeStream.format("memory").queryName("evictions")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: five files → no eviction yet (eviction happens on the
      // arrival that observes >= 5 existing)
      input.addData((1 to 5).map(i => ZipArrival("p", s"f$i.zip", i.toLong, true)): _*)
      q.processAllAvailable()
      assert(spark.table("evictions").count() == 0)
      // batch 2: the 6th arrival sees 5 existing → evicts the oldest
      input.addData(ZipArrival("p", "f6.zip", 6, true))
      q.processAllAvailable()
      val got = spark.table("evictions").as[Eviction].collect().map(_.deleted_zip_path)
      assert(got.toList == List("p/f1.zip"))
    } finally q.stop()
  }
}
