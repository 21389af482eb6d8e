package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's local (`file:`) filesystem without a child process per file.
  * With no native Hadoop library installed, stock `RawLocalFileSystem`
  * runs `chmod` as a child process for every file and directory it
  * creates with a permission, and `readlink` for every
  * `getFileLinkStatus`. Measured over 200 calls on a 4-vCPU host, a
  * stock call took 5–6 ms and the in-process one 0.03–0.05 ms.
  * Registered as `fs.file.impl` by [[GraftSession]].
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** `Files.setPosixFilePermissions`, the same modes `chmod` sets. The
    * stock path runs instead for what NIO cannot express (the sticky
    * bit, a store without a POSIX view) and for any NIO failure, so a
    * missing path or a refused chmod fails as it does in stock Hadoop.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    GraftRawLocalFileSystem.posix(permission) match {
      case Some(perms) =>
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch {
          case _: UnsupportedOperationException | _: java.io.IOException =>
            super.setPermission(p, permission)
        }
      case None => super.setPermission(p, permission)
    }

  /** Stock Hadoop answers `getFileStatus(f)` for anything that is not a
    * symbolic link, after a `readlink` child process finds no target;
    * only a link goes the stock way.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object GraftRawLocalFileSystem {

  /** The POSIX permission set of `p`, or None when it carries the sticky
    * bit, which NIO cannot set.
    */
  def posix(p: FsPermission): Option[java.util.Set[PosixFilePermission]] =
    Option.unless(p.getStickyBit) {
      val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission, x: PosixFilePermission): Unit = {
        if (a.implies(FsAction.READ)) set.add(r)
        if (a.implies(FsAction.WRITE)) set.add(w)
        if (a.implies(FsAction.EXECUTE)) set.add(x)
      }
      add(p.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
      add(p.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
      add(p.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
      set
    }
}
