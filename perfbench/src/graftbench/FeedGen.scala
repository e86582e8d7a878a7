package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Seeded `_changes` feed generator with the expected outcome of every
  * change planned alongside it.
  *
  * Packages get a Zipf-distributed number of releases; each release is one
  * change carrying the whole doc up to that release, as the registry's feed
  * does. Releases of different packages interleave in a seeded order. A fixed
  * share of changes is turned into each dead-letter class; the rest are kept
  * and feed the A5 retention model below.
  */
object FeedGen {

  val Catalog = "catalog"
  /** Seq of the first change of every feed. */
  val FirstSeq = 1000L

  /** Fixed class mix, as shares of the regular changes. */
  val ClassShares: Seq[(String, Double)] = Seq(
    "corrupt_json" -> 0.010,
    "no_doc" -> 0.015,           // change without a doc
    "deleted" -> 0.015,          // deleted change: normalize drops the doc
    "missing_latest_tag" -> 0.010,
    "missing_latest_version" -> 0.005,
    "missing_latest_time" -> 0.010,
    "tarball_too_large" -> 0.020)

  /** Pipeline DLQ reason each planned class must end up under. */
  def reasonOf(cls: String): String = cls match {
    case "deleted" => "no_doc"
    case other => other
  }

  final case class Feed(
      lines: Array[String],
      /** seq -> "catalog" or the DLQ reason; corrupt lines carry no seq. */
      routes: Map[Long, String],
      corrupt: Int,
      /** expected `deleted_zip_path`s of the A5 model, as a multiset. */
      evictions: Map[String, Int]) {
    def dlqPlan: Map[String, Int] = {
      val byReason = routes.values.filter(_ != Catalog).groupBy(identity).map { case (k, v) => k -> v.size }
      if (corrupt > 0) byReason + ("corrupt_json" -> corrupt) else byReason
    }
    def catalogCount: Int = routes.values.count(_ == Catalog)

    /** Misses of one run's catalog and DLQ against the plan: changes lost,
      * duplicated or under another route than planned, and the distance
      * between the DLQ reason counts and the plan (corrupt lines carry no
      * seq, so they are checked by count only).
      */
    def routeMisses(catalogSeqs: Seq[Long], dlq: Seq[(Option[Long], String)]): (Int, Int) = {
      val landed = mutable.HashMap.empty[Long, List[String]]
      catalogSeqs.foreach(s => landed(s) = Catalog :: landed.getOrElse(s, Nil))
      dlq.foreach { case (s, reason) => s.foreach(x => landed(x) = reason :: landed.getOrElse(x, Nil)) }
      val misrouted = routes.count { case (s, route) => landed.get(s) != Some(List(route)) } +
        landed.keySet.count(s => !routes.contains(s))
      val expect = dlqPlan
      val got = dlq.groupBy(_._2).map { case (k, v) => k -> v.size }
      val reasonMiss = (expect.keySet ++ got.keySet).toSeq
        .map(k => math.abs(expect.getOrElse(k, 0) - got.getOrElse(k, 0))).sum
      (misrouted, reasonMiss)
    }
  }

  /** Change seqs of a catalog output and (seq, reason) rows of a DLQ output. */
  def readRoutes(spark: SparkSession, catalog: String, skipped: String): (Seq[Long], Seq[(Option[Long], String)]) = {
    val cat = spark.read.parquet(catalog).select("change_seq_id").collect().map(_.getLong(0))
    val dlq = spark.read.parquet(skipped).select("seq", "reason").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1)))
    (cat.toSeq, dlq.toSeq)
  }

  private final case class Pkg(id: String, releases: Int, vPrefix: String, revSalt: Long)

  /** Zipf(s) over 1..max by inverse CDF. */
  private def zipf(rng: SplittableRandom, s: Double, max: Int): Int = {
    val weights = (1 to max).map(k => 1.0 / math.pow(k, s))
    val total = weights.sum
    var u = rng.nextDouble() * total
    var k = 0
    while (k < max - 1 && u > weights(k)) { u -= weights(k); k += 1 }
    k + 1
  }

  private def shuffle[T](rng: SplittableRandom, a: Array[T]): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  private val words = Array("util", "core", "react", "parse", "lodash", "http", "cli",
    "types", "plugin", "loader", "async", "stream", "json", "color", "path")

  private def ts(r: Int): String = {
    val day = 1 + (r % 28)
    val month = 1 + (r / 28) % 12
    f"2021-$month%02d-$day%02dT10:${r % 60}%02d:00.000Z"
  }

  private def q(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    b += '"'
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  /** `n` regular changes from `seed`. `huge` adds one line above the 10 MiB
    * broker cap (msg_too_large) and one doc above the 10 MB artifact cap
    * that still fits the broker (doc_too_large).
    */
  def generate(seed: Long, n: Int, huge: Boolean): Feed = {
    val rng = new SplittableRandom(seed)
    // packages until their releases cover n changes
    val pkgs = mutable.ArrayBuffer.empty[Pkg]
    var total = 0
    while (total < n) {
      val i = pkgs.size
      val id = rng.nextInt(100) match {
        case x if x < 15 => s"@scope${i % 37}/${words(i % words.length)}-$i"
        case x if x < 17 => s"is-deleted-$i"
        case _ => s"${words(rng.nextInt(words.length))}-$i"
      }
      val k = zipf(rng, 1.3, 20)
      pkgs += Pkg(id, k, if (rng.nextInt(100) < 8) "v" else "", rng.nextLong())
      total += k
    }
    val order = pkgs.indices.flatMap(p => Iterator.fill(pkgs(p).releases)(p)).toArray
    shuffle(rng, order)
    val events = order.take(n)

    val classes = Array.fill(n)(Catalog)
    var pos = 0
    ClassShares.foreach { case (cls, share) =>
      val c = math.round(share * n).toInt
      (pos until pos + c).foreach(classes(_) = cls)
      pos += c
    }
    shuffle(rng, classes)
    // extra unpublished time key on some kept changes: the A5 trigger stays off
    val unpublished = Array.fill(n)(rng.nextInt(100) < 4)

    val seen = new Array[Int](pkgs.size)
    val lines = mutable.ArrayBuffer.empty[String]
    val routes = mutable.HashMap.empty[Long, String]
    var corrupt = 0
    // per package dir: (file name, ctime, triggered) of kept changes
    val arrivals = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(String, Long, Boolean)]]

    var i = 0
    while (i < n) {
      val p = pkgs(events(i))
      seen(events(i)) += 1
      val r = seen(events(i))
      val seq = FirstSeq + i
      val cls = classes(i)
      val rev = s"$r-${java.lang.Long.toHexString(p.revSalt ^ r).take(8)}"
      val line = cls match {
        case "corrupt_json" =>
          corrupt += 1
          // unparsable from the first token: no field, seq included, survives
          s"""]{"seq":$seq,"id":${q(p.id)},"doc":{"_id":"""
        case "no_doc" =>
          routes(seq) = reasonOf(cls)
          s"""{"seq":$seq,"id":${q(p.id)},"changes":[{"rev":"$rev"}]}"""
        case "deleted" =>
          routes(seq) = reasonOf(cls)
          s"""{"seq":$seq,"id":${q(p.id)},"deleted":true,"changes":[{"rev":"$rev"}],"doc":{"_id":${q(p.id)},"_rev":"$rev","_deleted":true}}"""
        case _ =>
          routes(seq) = reasonOf(cls)
          val triggered = !unpublished(i) && cls == Catalog
          if (cls == Catalog) {
            val split = p.id.split("/").last
            val prefix = if (p.id.length >= 3) p.id.substring(0, 3).toUpperCase else p.id.substring(0, 1).toUpperCase
            val dir = s"npm-mirror-packages/$prefix/${p.id}"
            arrivals.getOrElseUpdate(dir, mutable.ArrayBuffer.empty) += ((s"${split}_$rev.zip", seq, triggered))
          }
          docLine(rng, seq, p, r, rev, cls, unpublished(i), pad = 0)
      }
      lines += line
      i += 1
    }

    if (huge) {
      val p = Pkg("huge-doc-pkg", 1, "", 7L)
      val seqDoc = FirstSeq + n
      lines += docLine(rng, seqDoc, p, 1, "1-huge", "doc_too_large", unpublished = false, pad = 10100000)
      routes(seqDoc) = "doc_too_large"
      val seqMsg = FirstSeq + n + 1
      lines += s"""{"seq":$seqMsg,"id":"oversized-msg","pad":"${"x" * (10 * 1024 * 1024 + 100)}"}"""
      routes(seqMsg) = "msg_too_large"
    }

    Feed(lines.toArray, routes.toMap, corrupt, A5Model.evictions(arrivals))
  }

  private def docLine(rng: SplittableRandom, seq: Long, p: Pkg, r: Int, rev: String,
      cls: String, unpublished: Boolean, pad: Int): String = {
    val b = new StringBuilder(256 + 220 * r + pad)
    def vkey(k: Int) = s"${p.vPrefix}1.$k.0"
    b ++= s"""{"seq":$seq,"id":${q(p.id)},"changes":[{"rev":"$rev"}],"doc":{"_id":${q(p.id)},"_rev":"$rev","name":${q(p.id)},"""
    cls match {
      case "missing_latest_tag" => b ++= """"dist-tags":{"beta":"9.9.9"},"""
      case _ => b ++= s""""dist-tags":{"latest":"${vkey(r)}"},"""
    }
    if (cls != "missing_latest_version") {
      b ++= """"versions":{"""
      var k = 1
      while (k <= r) {
        if (k > 1) b += ','
        val size = if (cls == "tarball_too_large" && k == r) 20000000L else 1000L + rng.nextInt(900000)
        val deps = rng.nextInt(6)
        b ++= s""""${vkey(k)}":{"name":${q(p.id)},"version":"${vkey(k)}","dist":{"tarball":"https://registry.npmjs.org/${p.id}/-/${p.id.split("/").last}-1.$k.0.tgz","unpackedSize":$size,"shasum":""""
        if (pad > 0 && k == r) b ++= "0" * pad else b ++= java.lang.Long.toHexString(rng.nextLong())
        b ++= s""""},"author":{"name":"author-${p.id.length % 17}","email":"a${p.id.length % 17}@example.org"},"maintainers":[{"name":"m${r % 5}"}],"dependencies":{"""
        var d = 0
        while (d < deps) {
          if (d > 0) b += ','
          b ++= s""""${words((k + d) % words.length)}-${(k * 7 + d) % 50}":"^${d + 1}.0.0""""
          d += 1
        }
        b ++= "}}"
        k += 1
      }
      b ++= "},"
    }
    b ++= s""""time":{"created":"${ts(0)}","modified":"${ts(r)}""""
    var k = 1
    while (k <= r) {
      if (!(cls == "missing_latest_time" && k == r)) b ++= s""","${vkey(k)}":"${ts(k)}""""
      k += 1
    }
    if (unpublished) b ++= s""","0.0.$r":"${ts(r)}""""
    b ++= "}}}"
    b.result()
  }
}

/** The A5 retention rule, written from its specification (OLD_PACKAGE_VERSIONS
  * _LIMIT = 5): when a kept change arrives with the trigger on, look at the
  * zips already in its package dir; with at least five, walk them oldest
  * first and delete the first one whose next-newer file name does not
  * contain "deleted" (any case). At most one deletion per arrival.
  */
object A5Model {
  val Limit = 5

  def evictions(arrivals: collection.Map[String, collection.Seq[(String, Long, Boolean)]]): Map[String, Int] = {
    val out = mutable.HashMap.empty[String, Int]
    arrivals.foreach { case (dir, files) =>
      val present = mutable.ArrayBuffer.empty[(String, Long)]
      files.sortBy(f => (f._2, f._1)).foreach { case (name, ctime, triggered) =>
        if (triggered && present.size >= Limit) {
          val sorted = present.sortBy(f => (f._2, f._1))
          val victim = (0 until sorted.size - 1).find(j =>
            !sorted(j + 1)._1.toLowerCase.contains("deleted")).map(sorted(_))
          victim.foreach { v =>
            val path = s"$dir/${v._1}"
            out(path) = out.getOrElse(path, 0) + 1
            present -= v
          }
        }
        present += ((name, ctime))
      }
    }
    out.toMap
  }
}
