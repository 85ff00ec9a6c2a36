package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.exec.Fs

class FsSpec extends AnyFunSuite {

  test("scratch prefers the RAM disk only when its usable space meets the floor") {
    // a temp directory stands in for /dev/shm: any real directory has at
    // least 0 bytes usable and fewer than Long.MaxValue
    val shm = java.nio.file.Files.createTempDirectory("graft_fake_shm")
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir", "/tmp"))
    try {
      assert(Fs.chooseScratch(None, shm, 0L) == shm)
      assert(Fs.chooseScratch(None, shm, Long.MaxValue) == tmp,
        "a RAM disk under the floor (Docker's 64 MB default) must not be chosen")
      assert(Fs.chooseScratch(None, shm.resolve("absent"), 0L) == tmp)
      // the explicit setting wins even over a roomy RAM disk
      val explicit = shm.resolve("explicit").toString
      assert(Fs.chooseScratch(Some(explicit), shm, 0L) ==
        java.nio.file.Paths.get(explicit))
    } finally Fs.deleteTree(shm)
  }
}
