package graft

import java.io.{File, IOException}
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] leaves every file exactly as Hadoop's own local FileSystem
  * leaves it: the same operations on twin paths give the same mode bits,
  * the same `.crc` sidecars and the same failure on a missing path. */
class LocalFsSpec extends AnyFunSuite {

  private def open(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(new java.net.URI("file:///"), conf)
    fs
  }

  private def mode(f: File): Int = Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int]

  for (umask <- Seq("022", "077")) test(s"graft.LocalFs matches Hadoop's LocalFileSystem under umask $umask") {
    Scratch.withTree("graft-localfs-") { base =>
      val twins = Seq(open(new LocalFileSystem, umask) -> new File(base, "hadoop"),
        open(new LocalFs, umask) -> new File(base, "graft"))
      // each operation on both twins, then the modes it left, side by side
      def both(op: (FileSystem, File) => File): Unit = {
        val Seq(expected, actual) = twins.map { case (fs, root) => mode(op(fs, root)) }
        assert(actual == expected, f"mode ${actual}%o, Hadoop's ${expected}%o")
      }
      both { (fs, root) => assert(fs.mkdirs(new Path(new File(root, "d/e").toURI))); new File(root, "d/e") }
      both { (fs, root) =>
        fs.create(new Path(new File(root, "d/f").toURI)).close()
        assert(new File(root, "d/.f.crc").isFile, s"no .crc sidecar under $root")
        new File(root, "d/f")
      }
      for (perm <- Seq(0x180 /* 0600 */, 0x1a4 /* 0644 */, 0x1c0 /* 0700 */, 0x1ed /* 0755 */))
        both { (fs, root) =>
          fs.setPermission(new Path(new File(root, "d/f").toURI), new FsPermission(perm.toShort))
          new File(root, "d/f")
        }
      both { (fs, root) => // 01777, the sticky bit, on a directory
        fs.setPermission(new Path(new File(root, "d/e").toURI), new FsPermission(0x3ff.toShort))
        new File(root, "d/e")
      }
      assert((mode(new File(base, "graft/d/e")) & 0xfff) == 0x3ff)
      for ((fs, root) <- twins)
        intercept[IOException](fs.setPermission(new Path(new File(root, "missing").toURI),
          new FsPermission(0x1a4.toShort)))
    }
  }
}
