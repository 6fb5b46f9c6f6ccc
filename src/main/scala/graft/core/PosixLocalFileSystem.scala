package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system, minus a process fork per permission
  * change. Without Hadoop's native library, `RawLocalFileSystem` runs a
  * shell `chmod` for every file it creates and every directory it makes
  * (one monthly DAG run: 1,590 of them, PERF.md "Generated-code cache").
  * This one sets the same nine rwx bits through `java.nio`; a mode with
  * any bit outside 0777 (sticky, setuid) keeps the inherited shell path. */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // enum order OWNER_READ .. OTHERS_EXECUTE is the bit order 0400 .. 0001
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }
}

/** The checksummed `file:` file system over [[PosixRawLocalFileSystem]],
  * so the same files reach disk as with Hadoop's default, `.crc` included.
  * [[graft.Session]] registers it as `spark.hadoop.fs.file.impl`. */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)
