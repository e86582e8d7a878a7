package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** privacy_pii_scan (injected-PII detection, clean flag) and
  * privacy_pseudonymize_audit (injectivity, zero collisions).
  */
class PrivacySpec extends SparkSpec {

  test("pii scan counts exactly the injected matches") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact me at alice.smith+x@example.org or bob@test.io", "a"), // 2 emails
      (2L, "server 10.0.255.1 and 192.168.1.1 up", "a"),                   // 2 ipv4
      (3L, "ssn 123-45-6789 phone +14155551234", "b"),                     // 1 ssn, 1 phone
      (4L, "perfectly clean text with no identifiers", "c"))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.TmpDirs.create("graft-pii")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val got = PrivacyOps.piiScan.run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getBoolean(6))).toMap
    assert(got("a") == ((2L, 2L, 0L, 0L, false)), s"source a: ${got("a")}")
    assert(got("b") == ((0L, 0L, 1L, 1L, false)), s"source b: ${got("b")}")
    assert(got("c") == ((0L, 0L, 0L, 0L, true)), s"clean source: ${got("c")}")
  }

  test("pseudonymization is consistent and injective") {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // 30 users, each active under two event types — per-type and global
    // pseudonym counts must equal user counts, zero collisions
    val events = (1 to 30).flatMap(u =>
      Seq((u.toLong * 2, t0, u.toLong, "view"), (u.toLong * 2 + 1, t0, u.toLong, "click")))
    val dir = graft.TmpDirs.create("graft-pseud")
    events.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val rows = PrivacyOps.pseudonymizeAudit.run(spark, dir).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_users") == 30L &&
        r.getAs[Long]("n_pseudonyms") == 30L &&
        r.getAs[Boolean]("injective") &&
        r.getAs[Long]("n_collisions") == 0L, s"$r")
    }
  }

  test("t-closeness flags the skewed class and scores EMD exactly") {
    import spark.implicits._
    // two QI classes over bands {0, 1} (acctbal 0-1999 -> band 0,
    // 2000-3999 -> band 1):
    //  - class (1, A): 10 rows, all band 0  (skewed)
    //  - class (2, B): 10 rows, 5 per band  (matches neither globally)
    // global Q: cum = (15, 20). m = 2, k = 10, n = 20.
    //  class A: cumP = (10, 10) -> |10*20-15*10| + |10*20-20*10| = 50+0
    //           t_ppm = 50*1e6 / (1*10*20) = 250000 -> decile 2
    //  class B: cumP = (5, 10)  -> |5*20-15*10| = 50 -> same 250000
    // Both classes land in decile 2, not flagged; then a THIRD class
    // fully in band 1 must push its own t higher and get flagged.
    val rows =
      (1 to 10).map(i => (100L + i, "c", 1, 500.0, "A")) ++
      (1 to 5).map(i => (200L + i, "c", 2, 500.0, "B")) ++
      (1 to 5).map(i => (300L + i, "c", 2, 2500.0, "B"))
    val dir = graft.TmpDirs.create("graft-tclose")
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = PrivacyOps.tCloseness.run(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toMap
    assert(got == Map(2L -> (2L, 20L, 250000L, false)),
      s"hand-computed EMD mismatch: $got")

    // add a 4-row class entirely in band 1: cumP=(0,4), cumQ=(15,24),
    // n=24, k=4: |0*24-15*4| = 60 -> t_ppm = 60*1e6/(1*4*24) = 625000
    val rows2 = rows ++ (1 to 4).map(i => (400L + i, "c", 3, 2500.0, "C"))
    val dir2 = graft.TmpDirs.create("graft-tclose2")
    rows2.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir2/customer.parquet")
    val got2 = PrivacyOps.tCloseness.run(spark, dir2).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    assert(got2(6L) == ((625000L, true)), s"skewed class not flagged: $got2")
  }
}
