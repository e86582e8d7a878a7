package graft.npm

/** The golden-replay change-feed corpus (FIXTURES.md F1). Each case is one
  * JSONL line; expected routing is asserted in PipelineSpec.
  */
object Fixtures {

  private def version(v: String, tarball: String = "http://r/t.tgz", size: Long = 100): String =
    s"""{"version":"$v","dist":{"tarball":"$tarball","unpackedSize":$size,"shasum":"aa"},
       |"author":{"name":"ada","email":"a@x.io"},
       |"maintainers":[{"name":"ada","email":"a@x.io"},{"name":"bob","email":"b@x.io"}],
       |"dependencies":{"left-pad":"^1.0.0","semver":"~7.0.0"}}""".stripMargin.replaceAll("\n", "")

  private def doc(
      id: String,
      versions: Seq[String],
      latest: Option[String],
      extraTimeKeys: Seq[String] = Seq("created", "modified"),
      rev: String = "1-abc",
      tarballSize: Long = 100): String = {
    val vs = versions.map(v => s""""$v":${version(v, size = tarballSize)}""").mkString(",")
    val times = (versions ++ extraTimeKeys).zipWithIndex
      .map { case (k, i) => s""""$k":"2023-01-0${i % 9 + 1}T00:00:00.000Z"""" }.mkString(",")
    val tags = latest.map(l => s""""latest":"$l"""").getOrElse("")
    s"""{"_id":"$id","_rev":"$rev","name":"$id","dist-tags":{$tags},"versions":{$vs},"time":{$times}}"""
  }

  private def change(seq: Long, id: String, docJson: Option[String], deleted: Option[Boolean] = None): String = {
    val d = docJson.map(j => s""","doc":$j""").getOrElse("")
    val del = deleted.map(b => s""","deleted":$b""").getOrElse("")
    s"""{"seq":$seq,"id":"$id"$del$d}"""
  }

  /** (jsonl line, expected route, note). Route ∈ catalog | skipped. */
  val cases: Seq[(String, String, String)] = Seq(
    (change(1, "plainpkg", Some(doc("plainpkg", Seq("1.0.0"), Some("1.0.0")))),
      "catalog", "plain package, 1 version"),
    (change(2, "@scope/name", Some(doc("@scope/name", Seq("2.0.0"), Some("2.0.0")))),
      "catalog", "scoped name: split T4 + nested dirs"),
    (change(3, "ab", Some(doc("ab", Seq("1.0.0"), Some("1.0.0")))),
      "catalog", "name shorter than prefix length: T6 fallback"),
    (change(4, "deadpkg", Some(doc("deadpkg", Seq("1.0.0"), Some("1.0.0"))), deleted = Some(true)),
      "catalog", "deleted change: Deleted- filename prefix, package_deleted=true"),
    (change(5, "nodoc", None),
      "skipped", "missing doc → F1"),
    (change(6, "_design/app", Some(doc("_design/app", Seq("1.0.0"), Some("1.0.0")))),
      "skipped", "_design doc dropped by normalize F7"),
    (change(7, "bigtar", Some(doc("bigtar", Seq("1.0.0"), Some("1.0.0"), tarballSize = 20000000L))),
      "skipped", "tarball > 10MB → F4 pre-download cap"),
    (change(8, "messyver", Some(doc("messyver", Seq("v1.0.0"), Some("v1.0.0")))),
      "catalog", "malformed semver key cleaned by T3; dist-tag retargeted"),
    (change(9, "badtag", Some(doc("badtag", Seq("1.0.0"), Some("0.6")))),
      "skipped", "dist-tag '0.6' uncleanable → tag dropped → missing latest"),
    (change(10, "notags", Some(doc("notags", Seq("1.0.0"), None))),
      "skipped", "missing dist-tags.latest → P3 guard"),
    (change(11, "fetch404", Some(doc("fetch404", Seq("1.0.0"), Some("1.0.0")))),
      "skipped", "tarball 404 → F5 (fetcher stub keys on url)"),
    ("{not valid json", "skipped", "corrupt line → E1, query keeps running"),
    (change(13, "unpub", Some(doc("unpub", Seq("1.0.0", "1.0.1"), Some("1.0.1"),
      extraTimeKeys = Seq("created", "modified", "1.0.2")))),
      "catalog", "len(time)-len(versions) != 2 → retention NOT triggered")
  )

  val jsonl: Seq[String] = cases.map(_._1)

  /** Fetcher stub (FIXTURES.md F3): 404 for the fetch404 package. */
  object StubFetcher extends (String => (Int, Long)) with Serializable {
    def apply(url: String): (Int, Long) = (200, 10L)
  }
  // fetch404's tarball URL is customized below instead: simpler to key on
  // the package via a distinct url
  val fetch404Url = "http://r/missing.tgz"
  val withFetch404: Seq[String] = jsonl.map(l =>
    if (l.contains("\"fetch404\"")) l.replaceAll("http://r/t\\.tgz", fetch404Url) else l)

  object RoutingFetcher extends (String => (Int, Long)) with Serializable {
    def apply(url: String): (Int, Long) =
      if (url == "http://r/missing.tgz") (404, 0L) else (200, 10L)
  }

  /** `n` distinct packages (seqs 1001 to 1000 + n), one release each with
    * its own tarball URL; all pass the pre-fetch checks and none evicts.
    */
  def distinctFeed(n: Int): Seq[String] = (1 to n).map { i =>
    s"""{"seq":${1000 + i},"id":"pkg-$i","doc":{"_id":"pkg-$i","_rev":"1-a","name":"pkg-$i","dist-tags":{"latest":"1.0.0"},"versions":{"1.0.0":{"version":"1.0.0","dist":{"tarball":"http://r/pkg-$i.tgz","unpackedSize":5,"shasum":"s"}}},"time":{"1.0.0":"2023-01-01T00:00:00.000Z","created":"2023-01-01T00:00:00.000Z","modified":"2023-01-01T00:00:00.000Z"}}}"""
  }
}
