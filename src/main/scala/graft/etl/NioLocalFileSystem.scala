package graft.etl

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with file modes set in-process. Without
  * libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod` for every
  * file and directory it creates: four per written lake file (its
  * `start_block=` and `end_block=` directories, the part file and its
  * `.crc`), all inside the write task. This sets the same mode with
  * `Files.setPosixFilePermissions`; a sticky bit, which NIO cannot set,
  * still takes Hadoop's path. Wrapped in [[LocalFileSystem]], so `.crc`
  * files are written and verified as before. [[EtlOps]] selects it per
  * write with the `fs.file.impl` option. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        // PosixFilePermission's order is owner rwx, group rwx, others rwx:
        // mode bits 0400 down to 0001
        val bits = permission.toShort
        val modes = PosixFilePermission.values.zipWithIndex
          .collect { case (m, i) if (bits & (1 << (8 - i))) != 0 => m }
        Files.setPosixFilePermissions(pathToFile(p).toPath, modes.toSet.asJava)
      }
  }
}
