package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.warehouse.FastRawLocalFileSystem

/** The in-process `file://` filesystem's listing contracts. */
class FastLocalFsSpec extends AnyFunSuite {

  private def fsOver(dir: java.nio.file.Path,
      onList: () => Unit = () => ()): FastRawLocalFileSystem = {
    val fs = new FastRawLocalFileSystem {
      override protected def entries(d: java.io.File): Array[String] = {
        val names = super.entries(d)
        onList()
        names
      }
    }
    fs.initialize(dir.toUri, new Configuration())
    fs
  }

  private def dirWith(names: String*): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft_fastfs")
    names.foreach(n => Files.write(dir.resolve(n), Array[Byte](1, 2, 3)))
    dir
  }

  test("listStatus skips an entry deleted between the directory read and its stat") {
    val dir = dirWith("a", "b", "c")
    val fs = fsOver(dir, () => Files.delete(dir.resolve("b")))
    val listed = fs.listStatus(new Path(dir.toUri))
    assert(listed.map(_.getPath.getName).toSeq == Seq("a", "c"),
      "a vanished entry must not come back as a phantom status")
    assert(listed.forall(st => st.isFile && st.getLen == 3L &&
      st.getModificationTime > 0L))
  }

  test("statuses carry synthetic default permissions; missing paths refuse") {
    val dir = dirWith("f")
    Files.setPosixFilePermissions(dir.resolve("f"),
      java.nio.file.attribute.PosixFilePermissions.fromString("r--------"))
    val fs = fsOver(dir)
    val st = fs.getFileStatus(new Path(dir.resolve("f").toUri))
    assert(st.getPermission == FsPermission.getFileDefault,
      "permissions are synthetic on this scheme, never the file's mode")
    assert(fs.listStatus(new Path(dir.toUri)).head.getPermission ==
      FsPermission.getFileDefault)
    intercept[java.io.FileNotFoundException] {
      fs.getFileStatus(new Path(dir.resolve("nope").toUri))
    }
    intercept[java.io.FileNotFoundException] {
      fs.listStatus(new Path(dir.resolve("nope").toUri))
    }
  }
}
