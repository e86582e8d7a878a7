package graft.npm

import java.nio.file.Files
import java.util.zip.ZipInputStream

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PayloadSinkSpec extends SparkSpec {

  import spark.implicits._

  private def entriesOf(path: java.io.File): List[String] = {
    val zis = new ZipInputStream(new java.io.FileInputStream(path))
    try Iterator.continually(zis.getNextEntry).takeWhile(_ != null).map(_.getName).toList
    finally zis.close()
  }

  test("zipBytes packs doc json + tarball under the reference entry names") {
    val p = PayloadSink.Payload("A/pkg/pkg_1-r.zip", "pkg", """{"x":1}""", Array[Byte](1, 2, 3))
    val tmp = new java.io.File(graft.TmpDirs.create("graft-zip"), "z.zip")
    Files.write(tmp.toPath, PayloadSink.zipBytes(p))
    assert(entriesOf(tmp) == List("pkg_doc.json", "pkg_package.tgz"))
  }

  test("end-to-end: kept changes land as zips in the hashed layout") {
    val root = graft.TmpDirs.create("graft-payloads")
    val parsed = Pipeline.parse(Fixtures.withFetch404.toDF("value"))
    val derived = Pipeline.withDerived(Pipeline.normalize(parsed))
      .filter(col("reject_reason").isNull)
    val payloads = PayloadSink.fromDerived(derived, _ => Array[Byte](9, 9))
    val results = PayloadSink.write(payloads, root).collect()

    assert(results.length == 7) // kept fixtures incl. fetch404 (sink is pre-F5)
    results.foreach { r =>
      val f = new java.io.File(root, r.save_path)
      assert(f.exists(), r.save_path)
      assert(f.length() == r.n_bytes)
    }
    // scoped package nests, deleted change carries the prefix
    assert(new java.io.File(root,
      "npm-mirror-packages/@SC/@scope/name/name_1-abc.zip").exists())
    assert(new java.io.File(root,
      "npm-mirror-packages/DEA/deadpkg/Deleted-deadpkg_1-abc.zip").exists())
  }
}
