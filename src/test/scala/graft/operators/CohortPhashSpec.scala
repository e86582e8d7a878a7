package graft.operators

import java.sql.Timestamp

import graft.SparkSpec

/** cohort_weekly_retention: cohorts anchor at each user's first active
  * week, offsets count distinct active weeks (not events), and each
  * cohort's offset-0 cell is by construction 100%.
  */
class CohortRetentionSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("cohort anchoring, distinct-week counting, and full offset-0 retention") {
    import spark.implicits._
    val events = Seq(
      // user 1: cohort week of 2024-01-01 (Mon); active that week ×3 events,
      // silent next week, back the week after
      (1L, ts("2024-01-01 10:00:00"), 1L), (2L, ts("2024-01-02 10:00:00"), 1L),
      (3L, ts("2024-01-03 10:00:00"), 1L), (4L, ts("2024-01-15 10:00:00"), 1L),
      // user 2: same cohort, only week 0
      (5L, ts("2024-01-04 10:00:00"), 2L),
      // user 3: cohorts one week later
      (6L, ts("2024-01-08 10:00:00"), 3L))
      .map { case (e, t, u) => (e, t, u, "click") }
      .toDF("event_id", "ts", "user_id", "event_type")
    val dir = graft.TmpDirs.create("graft-cohort")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = EventOps.defs.find(_.name == "cohort_weekly_retention").get
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(4))).toMap
    val w0 = rows.keys.map(_._1).min
    assert(rows((w0, 0L)) == ((2L, 1.0)), s"cohort-0 offset-0: ${rows((w0, 0L))}")
    assert(rows((w0, 2L)) == ((1L, 0.5)), s"cohort-0 offset-2: ${rows((w0, 2L))}")
    assert(rows((w0 + 1, 0L)) == ((1L, 1.0)), s"cohort-1 offset-0: ${rows((w0 + 1, 0L))}")
    assert(!rows.contains((w0, 1L)), "silent week must produce no cell")
  }
}

/** mm_phash_neardup: detection pinned with constructed payloads —
  * byte-identical media pair at hamming 0, a single perturbed block
  * pairs at hamming 1, and an unrelated payload pairs with neither.
  * (On the driver corpus the correct result is EMPTY: measured minimum
  * pairwise signature distance is 3 — see the operator scaladoc.)
  */
class PhashNearDupSpec extends SparkSpec {

  test("identical payloads at hamming 0; one perturbed block at hamming 1") {
    import spark.implicits._
    val base = "m" * 64                                  // uniform bytes → all-zero signature
    val oneBlock = "m" * 32 + "zz" + "m" * 30            // block 16 mean above global → one bit
    val other = ("ab" * 16) + ("zy" * 16)                // different half-split signature
    val dir = graft.TmpDirs.create("graft-phash")
    Seq((0L, base, "s", 64L), (3L, base, "s", 64L),
        (6L, oneBlock, "s", 64L), (9L, other, "s", 64L))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.multimodal.MultimodalOps.phashNearDup.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((0L, 3L, 0L), (0L, 6L, 1L), (3L, 6L, 1L)), s"got $rows")
  }
}
