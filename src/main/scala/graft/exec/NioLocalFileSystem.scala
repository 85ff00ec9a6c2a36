package graft.exec

import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{GroupPrincipal, PosixFilePermission, UserPrincipal}
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path, PathFilter,
  RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission

/** The session's `file:` filesystem (`fs.file.impl`, set by
  * `GraftSession.build`): Hadoop's checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. Checksums stay on — the safety gate's
  * `ChecksumException` verdict (`Pipeline.safetyCheck`) depends on them.
  *
  * Without libhadoop, stock `RawLocalFileSystem` forks a process for each
  * permission it reads (`ls -ld`) or writes (`chmod`): a listing pays one
  * fork per listed file, a write one per created file and directory —
  * about 140 processes per perfbench copy_catalog operation (JFR
  * `jdk.ProcessStart`). Object stores and HDFS never reach this class.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` with the two permission paths on `java.nio`;
  * everything else is Hadoop's. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` as a system call. A mode with bits above 0777 (sticky,
    * setuid, setgid), or a filesystem without POSIX permissions, takes
    * Hadoop's own path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.perms(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** The listing behind `listFiles`/`listLocatedStatus`. The stock one
    * builds each `LocatedFileStatus` from a status whose permission,
    * owner and group load lazily through `ls -ld`; here they come from
    * one attribute read of the file (links followed, as libhadoop's
    * `stat` does). The `unix` view is read rather than the `posix` one
    * because only it carries the sticky bit `ls -ld` reports; without
    * it the stock listing runs. */
  override protected def listLocatedStatus(
      f: Path, filter: PathFilter): RemoteIterator[LocatedFileStatus] =
    if (!NioRawLocalFileSystem.unixView) super.listLocatedStatus(f, filter)
    else new RemoteIterator[LocatedFileStatus] {
      private val stats = listStatus(f, filter)
      private var i = 0
      def hasNext: Boolean = i < stats.length
      def next(): LocatedFileStatus = {
        if (!hasNext) throw new NoSuchElementException(s"No more entries in $f")
        val s = stats(i)
        i += 1
        located(s)
      }
    }

  private def located(s: FileStatus): LocatedFileStatus = {
    val attrs =
      try Files.readAttributes(pathToFile(s.getPath).toPath, "unix:mode,owner,group")
      catch { case e: NoSuchFileException =>
        throw new java.io.FileNotFoundException(e.getMessage)
      }
    val mode = attrs.get("mode").asInstanceOf[Integer].intValue
    val locations = if (s.isFile) getFileBlockLocations(s, 0, s.getLen) else null
    new LocatedFileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, new FsPermission((mode & 0x3ff).toShort),
      attrs.get("owner").asInstanceOf[UserPrincipal].getName,
      attrs.get("group").asInstanceOf[GroupPrincipal].getName,
      null, s.getPath, false, false, false, locations)
  }
}

object NioRawLocalFileSystem {

  /** `PosixFilePermission` declares OWNER_READ … OTHERS_EXECUTE, i.e. mode
    * bits 8 down to 0. */
  private def perms(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(p)
    }
    set
  }

  private lazy val unixView: Boolean =
    java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
}
