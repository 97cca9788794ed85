package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The in-process `file://` filesystem sets what the forked `chmod` set,
  * keeps Hadoop's checksum files, and refuses a mode it cannot set. */
class NioLocalFileSystemSpec extends AnyFunSuite {
  private def fs() = {
    val fs = new NioLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  test("every rwx bit maps to the same POSIX permission chmod sets") {
    for (mode <- 0 to 0x1ff) {
      val expected = PosixFilePermissions.toString(NioLocalFileSystem.posix(mode))
      assert(expected == new FsPermission(mode.toShort).toString, f"mode $mode%o")
    }
  }

  test("a create and a mkdirs set their mode in-process, and the file keeps its .crc") {
    val dir = Files.createTempDirectory("niofs")
    val local = fs()
    try {
      val file = new Path(dir.resolve("data").toUri)
      val out = local.create(file, new FsPermission("640"), false, 4096, 1.toShort, 1L << 20, null)
      try out.writeBytes("rows") finally out.close()
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve("data"))) ==
        "rw-r-----")
      assert(Files.exists(dir.resolve(".data.crc")))
      assert(local.mkdirs(new Path(dir.resolve("sub").toUri), new FsPermission("750")))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve("sub"))) ==
        "rwxr-x---")
      local.setPermission(file, new FsPermission("604"))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir.resolve("data"))) ==
        "rw----r--")
    } finally local.close()
  }

  test("a mode with the sticky bit fails loudly instead of being set without it") {
    val dir = Files.createTempDirectory("niofs-sticky")
    val local = fs()
    try {
      val e = intercept[UnsupportedOperationException](
        local.setPermission(new Path(dir.toUri), new FsPermission("1777")))
      assert(e.getMessage.contains("sticky"))
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(dir)) == "rwx------")
    } finally local.close()
  }
}
