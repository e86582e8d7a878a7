package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the cross-run stability statistic's arithmetic (r16: median
  * self-normalizing host shift + the regression gate's 0.15 s absolute
  * noise floor). A regression here silently re-biases the bench
  * artifact's headline stability number.
  */
class CrossRunStatSpec extends AnyFunSuite {

  test("uniform host shift normalizes to zero drift") {
    // every query 40% slower — a pure window difference, not drift
    val pairs = (1 to 50).map(i => (i * 0.1 * 1.4, i * 0.1))
    val (shift, over, med, n) = Bench.crossRunStat(pairs)
    assert(math.abs(shift - 1.4) < 1e-9)
    assert(over == 0, s"uniform shift counted as drift: $over")
    assert(math.abs(med - 1.0) < 1e-9)
    assert(n == 50)
  }

  test("a real regression above the floor survives normalization") {
    val base = (1 to 49).map(i => (i * 0.1, i * 0.1))
    val (_, over, _, _) = Bench.crossRunStat(base :+ ((4.0, 2.0)))
    assert(over == 1, s"2x on a 2 s query must count: $over")
  }

  test("micro-query wobble under the 0.15 s floor does not count") {
    val base = (1 to 49).map(i => (1.0 + i * 0.001, 1.0 + i * 0.001))
    // 0.10 -> 0.22 s is a 2.2x ratio but only a 0.12 s delta
    val (_, over, _, _) = Bench.crossRunStat(base :+ ((0.22, 0.10)))
    assert(over == 0, s"sub-floor wobble counted as drift: $over")
  }

  test("probe-style over-adjustment cannot manufacture improvements") {
    // half the suite 20% faster, half unchanged: the median splits the
    // difference and NEITHER side exceeds 1.3x after normalization
    val pairs = (1 to 25).map(i => (2.0 * 0.8, 2.0)) ++
      (1 to 25).map(i => (2.0, 2.0))
    val (_, over, _, _) = Bench.crossRunStat(pairs)
    assert(over == 0, s"bimodal window split flagged: $over")
  }

  test("degenerate inputs") {
    assert(Bench.crossRunStat(Nil) == ((1.0, 0, 1.0, 0)))
    assert(Bench.crossRunStat(Seq((0.0, 1.0), (1.0, 0.0))) == ((1.0, 0, 1.0, 0)))
  }

  test("a corroboration re-run that throws is recorded as failed, not corroborated") {
    // a fast re-run lowers the kept time to the re-run's and corroborates
    val (fast, ok) = Bench.corroborate(1000.0)(())
    assert(ok == "true" && fast < 1000.0, s"($fast, $ok)")
    // a throwing re-run gives no second sample: first time kept, "failed"
    val (kept, failed) = Bench.corroborate(2.5)(throw new RuntimeException("boom"))
    assert(kept == 2.5)
    assert(failed == "\"failed\"", failed)
  }
}
