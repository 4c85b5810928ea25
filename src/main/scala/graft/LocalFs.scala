package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local FileSystem (`.crc` sidecars and their
  * corruption checks kept) whose raw layer sets permissions through
  * `java.nio` instead of a forked `chmod`: without the native Hadoop
  * library, `RawLocalFileSystem` runs one `chmod` child process for every
  * file and directory it creates. Selected only by
  * [[graft.streaming.StreamingOps.runAvailableNow]]'s scoped confs. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  private class Raw extends RawLocalFileSystem {
    /** The bits `chmod %04o` sets, sticky bit included; a missing path
      * throws an `IOException`, as the forked `chmod` fails. */
    override def setPermission(p: Path, perm: FsPermission): Unit =
      Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(perm.toShort & 0xfff))
  }
}
