package graft.warehouse

import java.io.FileNotFoundException
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` filesystem that never forks a subprocess.
  *
  * Without the native Hadoop library (this sandbox, most dev boxes, many
  * container images), `RawLocalFileSystem` falls back to SHELLING OUT
  * for permission work: every `create()`/`mkdirs()` forks a `chmod`,
  * and every `LocatedFileStatus`/`getPermission` forks an `ls -ld` —
  * per FILE. Forking a multi-GB JVM copies page tables, so each is
  * milliseconds; a multi-commit lifecycle query was measured paying
  * ~800 forks ≈ seconds of pure driver/executor stall (jstack: main
  * RUNNABLE in `ProcessImpl.forkAndExec` under
  * `loadPermissionInfoByNonNativeIO`).
  *
  * This subclass does the same work in-process:
  *   - `setPermission` via `java.nio.file.Files.setPosixFilePermissions`
  *     (falls back to the shell path only if the store is not POSIX);
  *   - `getFileStatus`/`listStatus` build plain `FileStatus`es straight
  *     from one `stat` per entry (length, mtime, isDirectory) — never the
  *     lazy `ls`-forking `DeprecatedRawLocalFileStatus`. Permissions,
  *     owner and group are SYNTHETIC on this scheme: every status
  *     carries Hadoop's defaults, whatever the file's real mode;
  *   - `listStatus` skips an entry deleted between the directory read
  *     and its stat (a concurrent vacuum or staging cleanup) instead of
  *     reporting a phantom zero-length file.
  *
  * Semantics otherwise identical to `LocalFileSystem` (checksums, atomic
  * rename, delete). Installed via
  * `spark.hadoop.fs.file.impl = graft.warehouse.FastLocalFileSystem` in
  * the session builders — an engine-level default, not a bench trick:
  * it removes per-file subprocess forks for every reader and writer on
  * this scheme (on clusters with native Hadoop IO the stock class never
  * forks either; this makes the no-native case behave the same way).
  */
class FastLocalFileSystem extends LocalFileSystem(new FastRawLocalFileSystem)

class FastRawLocalFileSystem extends RawLocalFileSystem {

  private def nioPerms(perm: FsPermission)
      : java.util.Set[PosixFilePermission] = {
    import PosixFilePermission._
    val bits = perm.toShort.toInt
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    val map = Seq(
      0x100 -> OWNER_READ, 0x80 -> OWNER_WRITE, 0x40 -> OWNER_EXECUTE,
      0x20 -> GROUP_READ, 0x10 -> GROUP_WRITE, 0x8 -> GROUP_EXECUTE,
      0x4 -> OTHERS_READ, 0x2 -> OTHERS_WRITE, 0x1 -> OTHERS_EXECUTE)
    map.foreach { case (bit, p) => if ((bits & bit) != 0) out.add(p) }
    out
  }

  override def setPermission(p: Path, permission: FsPermission): Unit =
    try java.nio.file.Files.setPosixFilePermissions(
      pathToFile(p).toPath, nioPerms(permission))
    catch {
      case _: UnsupportedOperationException =>
        super.setPermission(p, permission) // non-POSIX store: shell path
    }

  /** One `stat` of `f` as a FileStatus; None when `f` does not exist. */
  private def statusOf(f: java.io.File, p: Path): Option[FileStatus] =
    try {
      val a = java.nio.file.Files.readAttributes(f.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      Some(new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(p),
        a.lastModifiedTime.toMillis, 0L,
        null /* default perms — never fork `ls` */, null, null,
        makeQualified(p)))
    } catch { case _: java.nio.file.NoSuchFileException => None }

  /** Names of the entries of `dir` — the directory read that
    * [[listStatus]] stats entry by entry.
    */
  protected def entries(dir: java.io.File): Array[String] =
    Option(dir.list()).getOrElse(
      throw new java.io.IOException(s"could not list directory $dir"))

  override def getFileStatus(p: Path): FileStatus =
    statusOf(pathToFile(p), p).getOrElse(
      throw new FileNotFoundException(s"File $p does not exist"))

  override def listStatus(p: Path): Array[FileStatus] = {
    val dir = getFileStatus(p)
    if (!dir.isDirectory) Array(dir)
    else entries(pathToFile(p)).sorted.flatMap { n =>
      statusOf(new java.io.File(pathToFile(p), n), new Path(p, n))
    }
  }
}
