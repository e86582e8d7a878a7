package graft.npm

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.unsafe.types.UTF8String

class SemverSpec extends AnyFunSuite {

  test("clean keeps canonical versions unchanged") {
    for (v <- Seq("1.0.0", "0.0.1", "10.20.30", "1.2.3-beta.1", "1.2.3-rc-x.2"))
      assert(Semver.clean(v).contains(v), v)
  }

  test("clean strips prefixes and whitespace") {
    assert(Semver.clean("v1.2.3").contains("1.2.3"))
    assert(Semver.clean("=1.2.3").contains("1.2.3"))
    assert(Semver.clean("  1.2.3  ").contains("1.2.3"))
    assert(Semver.clean("V1.2.3").contains("1.2.3"))
  }

  test("loose prerelease without hyphen is canonicalized") {
    assert(Semver.clean("1.2.3beta").contains("1.2.3-beta"))
    assert(Semver.clean("1.2.3beta.2").contains("1.2.3-beta.2"))
  }

  test("leading zeros are canonicalized") {
    assert(Semver.clean("01.02.03").contains("1.2.3"))
    assert(Semver.clean("1.2.3-01").contains("1.2.3-1"))
  }

  test("build metadata is dropped") {
    assert(Semver.clean("1.2.3+build.5").contains("1.2.3"))
    assert(Semver.clean("1.2.3-rc.1+build").contains("1.2.3-rc.1"))
  }

  test("uncleanable forms are rejected") {
    // "0.6" is FIXTURES.md's canonical uncleanable dist-tag
    // (normalize-registry-metadata/index.js:80-83 comment)
    for (v <- Seq("0.6", "1", "1.2", "1.2.x", "latest", "", "a.b.c", "1.2.3.4"))
      assert(Semver.clean(v).isEmpty, v)
  }

  private val versionGen: Gen[String] = for {
    maj <- Gen.choose(0, 99); min <- Gen.choose(0, 99); pat <- Gen.choose(0, 99)
    pre <- Gen.option(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(8)))
    prefix <- Gen.oneOf("", "v", "=", " ")
  } yield prefix + s"$maj.$min.$pat" + pre.map("-" + _).getOrElse("")

  test("property: clean is idempotent (500 generated samples)") {
    var seed = Seed(42L)
    (1 to 500).foreach { _ =>
      val v = versionGen.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      Semver.clean(v).foreach { c =>
        assert(Semver.clean(c).contains(c), s"$v -> $c not a fixpoint")
      }
    }
  }

  private val part: Gen[String] = Gen.oneOf(
    Gen.choose(0, 999).map(_.toString),
    Gen.choose(0, 99).map(n => "0" + n),                           // leading zero
    Gen.listOfN(30, Gen.numChar).map(_.mkString))                  // 30-digit part
  private val rawGen: Gen[String] = for {
    prefix <- Gen.oneOf("", "v", "V", "=", "=v", " ", " v")
    parts <- Gen.choose(2, 4).flatMap(Gen.listOfN(_, part))
    pre <- Gen.oneOf("", "-beta", "beta.01", "-rc.1", "-0")
    build <- Gen.oneOf("", "+build.5", "+")
    suffix <- Gen.oneOf("", " ", "x")
  } yield prefix + parts.mkString(".") + pre + build + suffix

  test("property: cleanUTF8 equals clean, and returns a canonical core as-is (2000 samples)") {
    var seed = Seed(7L)
    (1 to 2000).foreach { _ =>
      val s = rawGen.apply(Gen.Parameters.default, seed).get
      seed = seed.next
      val u = UTF8String.fromString(s)
      val out = Semver.cleanUTF8(u)
      assert(Option(out).map(_.toString) == Semver.clean(s), s"'$s'")
      if (Semver.clean(s).contains(s) && s.forall(c => c.isDigit || c == '.')) assert(out eq u, s"'$s'")
    }
  }
}
