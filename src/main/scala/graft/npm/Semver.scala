package graft.npm

import org.apache.spark.unsafe.types.UTF8String

/** Loose semver cleaning — a pure-Scala re-expression of the behavior the
  * reference gets from `semver.clean(v, loose = true)` inside
  * normalize-registry-metadata (reference:
  * node_app/node_modules/normalize-registry-metadata/index.js:42).
  *
  * Behavior (derived from the npm semver spec, not translated code):
  *  - trim whitespace; strip a leading `=` and/or `v` prefix;
  *  - require MAJOR.MINOR.PATCH numeric core (loose: leading zeros
  *    tolerated and canonicalized away);
  *  - optional prerelease, with or without the `-` separator (loose form
  *    `1.2.3beta` → `1.2.3-beta`); numeric prerelease identifiers lose
  *    leading zeros;
  *  - build metadata (`+...`) is dropped by clean;
  *  - anything else (e.g. `0.6`, `1.2.x`, garbage) is uncleanable → None.
  */
object Semver {

  private val Core =
    """^\s*[=vV]?\s*(\d+)\.(\d+)\.(\d+)(?:-?((?:[0-9A-Za-z-]+)(?:\.[0-9A-Za-z-]+)*))?(?:\+[0-9A-Za-z-]+(?:\.[0-9A-Za-z-]+)*)?\s*$""".r

  private def cleanNum(s: String): String =
    // canonical numeric component: strip leading zeros
    if (s.forall(_.isDigit)) BigInt(s).toString else s

  /** None if the string is not loose-parseable semver; otherwise the
    * canonical form.
    */
  def clean(raw: String): Option[String] = raw match {
    case Core(maj, min, pat, pre) =>
      val core = s"${cleanNum(maj)}.${cleanNum(min)}.${cleanNum(pat)}"
      Option(pre) match {
        case Some(p) if p.nonEmpty =>
          val canonical = p.split('.').map(cleanNum).mkString(".")
          Some(s"$core-$canonical")
        case _ => Some(core)
      }
    case _ => None
  }

  /** True when `clean` would leave the string unchanged. */
  def isClean(v: String): Boolean = clean(v).contains(v)

  /** Codegen-friendly adapter for the SemverClean Catalyst expression
    * (static forwarder callable from generated Java): null for null input
    * or uncleanable strings. An already canonical `N.N.N` comes back as
    * the same instance, without the String round-trip and the regex.
    */
  def cleanUTF8(s: UTF8String): UTF8String =
    if (s == null) null
    else if (isCanonicalCore(s)) s
    else clean(s.toString) match {
      case Some(c) => UTF8String.fromString(c)
      case None => null
    }

  /** Exactly three dot-separated runs of ASCII digits, none with a
    * leading zero unless it is `0` itself: what [[clean]] maps to itself
    * with no prerelease.
    */
  private def isCanonicalCore(s: UTF8String): Boolean = {
    val n = s.numBytes
    var i = 0
    var part = 0
    while (part < 3) {
      val start = i
      while (i < n && s.getByte(i) >= '0' && s.getByte(i) <= '9') i += 1
      if (i == start || (s.getByte(start) == '0' && i - start > 1)) return false
      part += 1
      if (part < 3) {
        if (i == n || s.getByte(i) != '.') return false
        i += 1
      }
    }
    i == n
  }
}
