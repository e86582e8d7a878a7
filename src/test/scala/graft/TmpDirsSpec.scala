package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The between-query tmp sweep's ownership contract: under one root it
  * deletes exactly the staged dirs carrying this process's nonce, so a
  * concurrent test run or second Bench/Verify process never loses its
  * live feed or checkpoint dirs. Runs on a test-local root, never on
  * java.io.tmpdir itself.
  */
class TmpDirsSpec extends AnyFunSuite {

  test("the owned-tmp sweep deletes this process's dirs and leaves another process's alone") {
    val root = Files.createTempDirectory("tmpdirs-spec")
    try {
      val otherPid = ProcessHandle.current().pid() + 1
      val own = Files.createDirectory(root.resolve(s"graft-stage${TmpDirs.nonceTag}1"))
      Files.writeString(Files.createDirectory(own.resolve("ckpt")).resolve("0"), "v1")
      val foreign = Files.createDirectory(root.resolve(s"graft-stage-p$otherPid-2"))
      Files.writeString(foreign.resolve("0"), "v1")
      // this process's nonce, but outside the swept family
      val unswept = Files.createDirectory(root.resolve(s"other${TmpDirs.nonceTag}3"))

      TmpDirs.sweepOwned(root)
      assert(!Files.exists(own), "this process's staged dir survived the sweep")
      assert(Files.exists(foreign.resolve("0")), "the sweep deleted another process's dir")
      assert(Files.exists(unswept), "the sweep reached outside the graft- family")
    } finally TmpDirs.deleteRec(root.toString)
  }
}
