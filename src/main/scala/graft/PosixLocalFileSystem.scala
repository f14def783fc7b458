package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with permissions set in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process, and every local `mkdirs` and `create` calls it: five forks
  * per line-protocol flush (the staging dir, the `date=`/`hour=` dirs,
  * the parquet file and its `.crc`). A mode made only of the nine rwx
  * bits is set with `Files.setPosixFilePermissions` instead; a mode with
  * any other bit (sticky, for one) still goes to Hadoop's own code.
  * `GraftSession` registers the checksummed wrapper as `fs.file.impl`. */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // declaration order is owner rwx, group rwx, others rwx: mode bit 8 down to 0
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b))
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }
}

/** `file:` with checksums, over `PosixRawLocalFileSystem`. */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)
