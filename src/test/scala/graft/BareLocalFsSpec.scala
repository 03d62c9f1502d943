package graft

import java.nio.file.{Files, LinkOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.BareLocalFs

class BareLocalFsSpec extends AnyFunSuite {

  private def uidOf(p: java.nio.file.Path): Long =
    Files.getAttribute(p, "unix:uid", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Integer].longValue

  test("tmpfs scratch resolves to this uid's own directory") {
    val shm = Files.createTempDirectory("shm")
    val uid = uidOf(shm)
    assert(BareLocalFs.currentUid.contains(uid))
    val dir = shm.resolve(s"graft-scratch-$uid")
    assert(BareLocalFs.ownedScratch(shm, uid).contains(dir.toString))
    assert(Files.isDirectory(dir) && uidOf(dir) == uid)
    assert(Files.getPosixFilePermissions(dir) ==
      java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
    // an existing directory of its own is reused
    assert(BareLocalFs.ownedScratch(shm, uid).contains(dir.toString))
  }

  test("tmpfs scratch owned by another uid, or a planted symlink, is not used") {
    val shm = Files.createTempDirectory("shm")
    val uid = uidOf(shm)
    // the directory for uid+1 exists but is owned by this process's uid
    assert(BareLocalFs.ownedScratch(shm, uid + 1).isEmpty)
    // a symlink in the directory's place is refused even when it is ours
    val shm2 = Files.createTempDirectory("shm")
    Files.createSymbolicLink(shm2.resolve(s"graft-scratch-$uid"),
      Files.createTempDirectory("elsewhere"))
    assert(BareLocalFs.ownedScratch(shm2, uid).isEmpty)
    assert(BareLocalFs.ownedScratch(shm.resolve("absent"), uid).isEmpty)
  }
}
