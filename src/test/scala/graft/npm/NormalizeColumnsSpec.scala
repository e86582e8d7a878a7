package graft.npm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The column normalization (Pipeline.normalize, one `normalize_doc`
  * expression per doc) must produce exactly what the typed pure-function
  * path (Pipeline.normalizeTyped) produces — on the fixture corpus (every
  * §1.2 normalization rule) and on the 20k synthetic replay feed. Inputs
  * the typed model cannot express have their outputs pinned literally.
  */
class NormalizeColumnsSpec extends SparkSpec {

  import spark.implicits._

  /** Map key order is undefined (the typed path's Scala Map moves renamed
    * keys to the end; the column path rewrites in place), so maps are
    * compared as key-sorted entry arrays. The comparator looks only at
    * keys because version values embed a (non-orderable) dependencies map.
    */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    def sorted(c: String) = expr(
      s"array_sort(map_entries($c), (l, r) -> CASE WHEN l.key < r.key THEN -1 WHEN l.key > r.key THEN 1 ELSE 0 END)")
    df.select(col("seq"), col("id"), col("deleted"),
        col("doc._id"), col("doc._rev"), col("doc.name"),
        col("doc._deleted"), col("doc.error"), col("doc.reason"),
        col("doc.ctime"), col("doc.mtime"),
        sorted("doc._attachments").as("attachments"),
        sorted("doc.versions").as("versions"),
        sorted("doc.time").as("time"),
        sorted("doc.`dist-tags`").as("tags"))
      .toJSON.collect().sorted.toSeq
  }

  private def compareOn(raw: org.apache.spark.sql.DataFrame): Unit = {
    val parsed = Pipeline.parse(raw)
    val viaColumns = canon(Pipeline.normalize(parsed)(spark).toDF())
    val viaTyped = canon(Pipeline.normalizeTyped(parsed)(spark).toDF())
    assert(viaColumns.length == viaTyped.length && viaColumns.nonEmpty)
    viaColumns.zip(viaTyped).foreach { case (c, t) => assert(c == t) }
  }

  test("column path == typed path on the fixture corpus") {
    compareOn(Fixtures.withFetch404.toDF("value"))
  }

  test("column path == typed path on normalization edge cases") {
    val edges = Seq(
      // design doc → dropped
      """{"seq":100,"id":"_design/x","doc":{"_id":"_design/x","_rev":"1-a"}}""",
      // _deleted doc → dropped
      """{"seq":101,"id":"gone","doc":{"_id":"gone","_rev":"1-a","_deleted":true}}""",
      // not_found/deleted error doc → dropped
      """{"seq":102,"id":"err","doc":{"_id":"err","error":"not_found","reason":"deleted"}}""",
      // v-prefixed version key renamed; time moved; dist-tag retargeted
      """{"seq":103,"id":"p1","doc":{"_id":"p1","_rev":"1-a","dist-tags":{"latest":"v1.0.0"},"versions":{"v1.0.0":{"version":"v1.0.0"}},"time":{"v1.0.0":"2023-01-01T00:00:00.000Z","created":"2023-01-01T00:00:00.000Z","modified":"2023-01-01T00:00:00.000Z"}}}""",
      // uncleanable dist-tag value → tag dropped; uncleanable version kept
      """{"seq":104,"id":"p2","doc":{"_id":"p2","_rev":"1-a","dist-tags":{"latest":"0.6","next":"2.0.0"},"versions":{"0.6beta":{"version":"0.6beta"},"2.0.0":{"version":"2.0.0"}},"time":{"created":"2023-01-01T00:00:00.000Z","modified":"2023-01-01T00:00:00.000Z"}}}""",
      // leading zeros canonicalized; tag cleaned-then-retargeted
      """{"seq":105,"id":"p3","doc":{"_id":"p3","_rev":"1-a","dist-tags":{"latest":"=01.02.03"},"versions":{"01.02.03":{"version":"01.02.03","_id":"p3@01.02.03"}},"time":{"01.02.03":"2023-01-01T00:00:00.000Z"}}}""",
      // no versions map → doc passes through untouched
      """{"seq":106,"id":"p4","doc":{"_id":"p4","_rev":"1-a","dist-tags":{"latest":"1.0.0"}}}""",
      // no doc at all
      """{"seq":107,"id":"p5"}""",
      // couchapp fields: _attachments kept when present, doc/version
      // ctime+mtime deleted, version directories defaulted/preserved
      """{"seq":108,"id":"p6","doc":{"_id":"p6","_rev":"1-a","ctime":"2001-01-01","mtime":"2001-01-02","_attachments":{"p6-1.0.0.tgz":{"content_type":"application/octet-stream","revpos":1,"digest":"md5-x","length":5,"stub":true}},"dist-tags":{"latest":"1.0.0"},"versions":{"1.0.0":{"version":"1.0.0","ctime":"2001-01-01","mtime":"2001-01-02"},"2.0.0":{"version":"2.0.0","directories":{"lib":"lib"}}},"time":{"1.0.0":"2023-01-01T00:00:00.000Z"}}}""")
    compareOn(edges.toDF("value"))
  }

  test("couchapp-field repair: _attachments/directories default, ctime/mtime deleted") {
    val raw = Seq(
      """{"seq":300,"id":"d1","doc":{"_id":"d1","_rev":"1-a","ctime":"c","mtime":"m","dist-tags":{"latest":"1.0.0"},"versions":{"1.0.0":{"version":"1.0.0","ctime":"vc","mtime":"vm"},"2.0.0":{"version":"2.0.0","directories":{"lib":"lib"}}}}}""").toDF("value")
    val row = Pipeline.normalize(Pipeline.parse(raw))(spark).toDF()
      .select(
        expr("doc._attachments").as("att"),
        expr("doc.ctime").as("dc"), expr("doc.mtime").as("dm"),
        expr("element_at(doc.versions, '1.0.0').directories").as("dirs1"),
        expr("element_at(doc.versions, '1.0.0').ctime").as("vc"),
        expr("element_at(doc.versions, '2.0.0').directories").as("dirs2"))
      .head()
    assert(row.getAs[Map[String, Any]]("att") == Map.empty) // defaulted to {}, not null
    assert(row.getAs[String]("dc") == null && row.getAs[String]("dm") == null)
    assert(row.getAs[Map[String, String]]("dirs1") == Map.empty)
    assert(row.getAs[String]("vc") == null)
    assert(row.getAs[Map[String, String]]("dirs2") == Map("lib" -> "lib"))
  }

  test("version keys colliding after cleaning: the renamed entry wins in either order") {
    // "1.2.3" and "v1.2.3" both clean to "1.2.3" (real npm data has such
    // docs) — must not throw DUPLICATED_MAP_KEY under the default
    // mapKeyDedupPolicy=EXCEPTION, and the RENAMED entry must win
    // regardless of which key appears first: the reference assigns
    // versions[cleaned] = version (index.js:44), overwriting a plain
    // entry whether it was visited before or after the rename.
    val plainFirst =
      """{"seq":200,"id":"c1","doc":{"_id":"c1","_rev":"1-a","dist-tags":{"latest":"1.2.3"},"versions":{"1.2.3":{"version":"1.2.3","_id":"c1@old"},"v1.2.3":{"version":"v1.2.3"}},"time":{"1.2.3":"2023-01-01T00:00:00.000Z","v1.2.3":"2023-02-01T00:00:00.000Z","created":"2023-01-01T00:00:00.000Z","modified":"2023-02-01T00:00:00.000Z"}}}"""
    val renamedFirst =
      """{"seq":201,"id":"c2","doc":{"_id":"c2","_rev":"1-a","dist-tags":{"latest":"1.2.3"},"versions":{"v1.2.3":{"version":"v1.2.3"},"1.2.3":{"version":"1.2.3","_id":"c2@old"}},"time":{"v1.2.3":"2023-02-01T00:00:00.000Z","1.2.3":"2023-01-01T00:00:00.000Z","created":"2023-01-01T00:00:00.000Z","modified":"2023-02-01T00:00:00.000Z"}}}"""
    val collide = Seq(plainFirst, renamedFirst)
    compareOn(collide.toDF("value"))
    val parsed = Pipeline.parse(collide.toDF("value"))
    val rows = Pipeline.normalize(parsed)(spark).toDF()
      .select(col("seq"),
        expr("element_at(doc.versions, '1.2.3')._id").as("vid"),
        expr("element_at(doc.time, '1.2.3')").as("t"),
        expr("size(doc.versions)").as("n"))
      .collect().map(r => r.getAs[Long]("seq") -> r).toMap
    Seq(200L -> "c1", 201L -> "c2").foreach { case (seq, pkg) =>
      val r = rows(seq)
      assert(r.getAs[String]("vid") == s"$pkg@1.2.3", s"seq $seq: renamed entry must win")
      assert(r.getAs[String]("t") == "2023-02-01T00:00:00.000Z", s"seq $seq: moved time must win")
      assert(r.getAs[Int]("n") == 1)
    }
  }

  test("normalize_doc's generated code compiles: no interpreted fallback") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try compareOn(Fixtures.withFetch404.toDF("value"))
    finally spark.conf.set("spark.sql.codegen.fallback", prev.getOrElse("true"))
  }

  test("column path == typed path on the 20k synthetic replay feed") {
    compareOn(NpmReplayOps.syntheticFeed(spark, "/root/testdata/sf0.01"))
  }

  test("literal duplicate raw JSON keys keep-last instead of raising") {
    // from_json preserves duplicate map keys; JS object parse and the
    // typed path's Scala Map both keep the LAST — the column path must
    // agree, not throw DUPLICATED_MAP_KEY
    val dup = Seq(
      """{"seq":210,"id":"d1","doc":{"_id":"d1","_rev":"1-a","dist-tags":{"latest":"1.0.0"},"versions":{"1.0.0":{"version":"1.0.0","_id":"d1@first"},"1.0.0":{"version":"1.0.0","_id":"d1@second"}},"time":{"1.0.0":"2023-01-01T00:00:00.000Z"}}}""")
    compareOn(dup.toDF("value"))
    val row = Pipeline.normalize(Pipeline.parse(dup.toDF("value")))(spark).toDF()
      .select(expr("element_at(doc.versions, '1.0.0')._id").as("vid"),
        expr("size(doc.versions)").as("n")).head()
    assert(row.getAs[String]("vid") == "d1@second")
    assert(row.getAs[Int]("n") == 1)
  }

  test("column-path normalization is idempotent (like the reference's fix())") {
    // applying normalizedDocColumn to an already-normalized doc must be a
    // no-op: every rename target is already clean, every couchapp field
    // already defaulted/deleted
    graft.functions.SemverExpressions.register(spark)
    val raw = Seq(
      """{"seq":400,"id":"i1","doc":{"_id":"i1","_rev":"1-a","ctime":"c","mtime":"m","dist-tags":{"latest":"v1.0.0","bad":"0.6"},"versions":{"v1.0.0":{"version":"v1.0.0","ctime":"vc"},"01.2.3":{"version":"01.2.3"}},"time":{"v1.0.0":"t1","01.2.3":"t2","created":"t0"}}}""",
      """{"seq":401,"id":"i2","doc":{"_id":"i2","_rev":"1-a","dist-tags":{"latest":"1.0.0"}}}""").toDF("value")
    val once = Pipeline.parse(raw).select("c.*")
      .withColumn("doc", Normalize.normalizedDocColumn(col("doc")))
    val twice = once.withColumn("doc", Normalize.normalizedDocColumn(col("doc")))
    assert(canon(once) == canon(twice))
  }

  test("inputs the typed oracle does not cover: null values, duplicate keys, no versions") {
    // the typed path cannot express a null version/time/tag value or a
    // duplicate raw key, so these outputs are pinned literally
    val raw = Seq(
      // null version values: a plain one and a renamed one that beats a plain entry
      """{"seq":500,"id":"n1","doc":{"_id":"n1","_rev":"1-a","dist-tags":{"latest":"1.0.0","beta":"v2.0.0"},"versions":{"1.0.0":null,"2.0.0":{"version":"2.0.0"},"v2.0.0":null},"time":{"1.0.0":"t1","v2.0.0":"t2"}}}""",
      // a null time value and a null dist-tag value
      """{"seq":501,"id":"n2","doc":{"_id":"n2","_rev":"1-a","dist-tags":{"latest":"v1.0.0","next":null},"versions":{"v1.0.0":{"version":"v1.0.0"}},"time":{"v1.0.0":null,"created":null}}}""",
      // duplicate raw keys in time and in dist-tags
      """{"seq":502,"id":"n3","doc":{"_id":"n3","_rev":"1-a","dist-tags":{"latest":"1.0.0","latest":"v1.0.0","next":"0.6","latest":"2.0.0"},"versions":{"1.0.0":{"version":"1.0.0"},"v2.0.0":{"version":"v2.0.0"}},"time":{"1.0.0":"t1","created":"t0","1.0.0":"t2","v2.0.0":"t3","2.0.0":"t4","v2.0.0":"t5"}}}""",
      // no versions: time and dist-tags pass through untouched
      """{"seq":503,"id":"n4","doc":{"_id":"n4","_rev":"1-a","ctime":"c","dist-tags":{"latest":"v9.9.9","x":null,"latest":"0.6"},"time":{"v1.0.0":"t1","v1.0.0":"t2","x":null}}}""")
    val got = Pipeline.normalize(Pipeline.parse(raw.toDF("value")))(spark).toDF()
      .select(col("seq"), to_json(col("doc")))
      .as[(Long, String)].collect().toMap
    // a null version value stays null (and a renamed null still wins);
    // duplicate time keys dedup like version keys, duplicate tags all stay
    val expected = Map(
      500L -> """{"_id":"n1","_rev":"1-a","dist-tags":{"latest":"1.0.0","beta":"2.0.0"},"versions":{"1.0.0":null,"2.0.0":null},"time":{"1.0.0":"t1","2.0.0":"t2"},"_attachments":{}}""",
      501L -> """{"_id":"n2","_rev":"1-a","dist-tags":{"latest":"1.0.0"},"versions":{"1.0.0":{"version":"1.0.0","_id":"n2@1.0.0","directories":{}}},"time":{"1.0.0":null,"created":null},"_attachments":{}}""",
      502L -> """{"_id":"n3","_rev":"1-a","dist-tags":{"latest":"1.0.0","latest":"1.0.0","latest":"2.0.0"},"versions":{"1.0.0":{"version":"1.0.0","directories":{}},"2.0.0":{"version":"2.0.0","_id":"n3@2.0.0","directories":{}}},"time":{"created":"t0","1.0.0":"t2","2.0.0":"t5"},"_attachments":{}}""",
      503L -> """{"_id":"n4","_rev":"1-a","dist-tags":{"latest":"v9.9.9","x":null,"latest":"0.6"},"time":{"v1.0.0":"t1","v1.0.0":"t2","x":null},"_attachments":{}}""")
    assert(got == expected)
  }
}
