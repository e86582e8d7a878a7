package graft.operators

import graft.SparkSpec

/** The document-frequency (stop-shingle) cap — the knob that keeps the
  * inverted-index pair expansion bounded when a boilerplate shingle
  * appears in a huge number of documents. Candidate volume without the
  * cap is O(df²) on the hot shingle; with it, the hot posting list is
  * dropped while genuinely-similar pairs (which share RARE shingles)
  * survive.
  */
class DedupCapSpec extends SparkSpec {

  import spark.implicits._

  // 50 docs sharing exactly one hot shingle ("HOT HOT HOT") and nothing
  // else, plus one true near-dup pair (identical 12-word docs) sharing
  // only rare shingles.
  private lazy val docs = {
    val hot = (0 until 50).map(i => (i.toLong, s"HOT HOT HOT u${i}a u${i}b u${i}c"))
    val dupText = (0 until 12).map(j => s"w$j").mkString(" ")
    (hot :+ (1000L, dupText) :+ (1001L, dupText)).toDF("doc_id", "text")
  }

  test("uncapped: the hot shingle alone produces O(df²) candidates") {
    val n = Dedup.candidatePairsOf(Dedup.shingles(docs), Int.MaxValue).count()
    assert(n == 50L * 49 / 2 + 1) // C(50,2) hot pairs + the near-dup pair
  }

  test("df cap drops the hot posting list; candidates collapse to the real pair") {
    val capped = Dedup.candidatePairsOf(Dedup.shingles(docs), maxDocFreq = 20)
      .collect()
    assert(capped.length == 1)
    assert(capped.head.getAs[Long]("ia") == 1000L && capped.head.getAs[Long]("ib") == 1001L)
  }

  test("capped jaccard still finds the near-dup pair with exact score") {
    val pairs = Dedup.jaccardPairsOf(docs, maxDocFreq = 20).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("ia") == 1000L && p.getAs[Long]("ib") == 1001L)
    assert(p.getAs[Double]("jaccard") == 1.0) // identical docs, no hot shingles lost
  }

  test("capped jaccard scores over the capped vocabulary (consistent denominator)") {
    // two identical docs that ALSO contain the hot prefix: with the cap,
    // the hot shingle leaves both the intersection AND the sizes, so the
    // score is 1.0 (true Jaccard over the capped vocabulary) — not the
    // deflated 3/(4+4-3)=0.6 a numerator-only cap would give.
    val hot = (0 until 50).map(i => (i.toLong, s"HOT HOT HOT u${i}a u${i}b u${i}c"))
    val mixed = (hot :+ (2000L, "HOT HOT HOT r1 r2 r3") :+ (2001L, "HOT HOT HOT r1 r2 r3"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairsOf(mixed, maxDocFreq = 20)
      .filter($"ia" === 2000L && $"ib" === 2001L).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Double]("jaccard") == 1.0)
  }

  test("default (no cap) jaccard output is unchanged by the refactor") {
    // hot-shingle pairs share 1 of ~4+4 shingles → jaccard ≈ 0.14 < 0.5,
    // so the final output is the near-dup pair either way; the cap only
    // changes how much intermediate work it takes to get there
    val pairs = Dedup.jaccardPairsOf(docs).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("ia") == 1000L)
  }
}
