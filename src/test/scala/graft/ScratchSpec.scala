package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Spark-free pins on [[Scratch.swapIn]], the park-and-swap behind the
  * dedup-ingest fingerprint store's commit and `Sinks.compactDir`. */
class ScratchSpec extends AnyFunSuite {

  private def write(dir: File, name: String, text: String): Unit = {
    dir.mkdirs()
    Files.writeString(new File(dir, name).toPath, text): Unit
  }
  private def read(dir: File, name: String): String =
    Files.readString(new File(dir, name).toPath)

  test("swapIn replaces the target tree and leaves nothing parked") {
    Scratch.withTree("graft-swap-") { base =>
      val (target, staged) = (new File(base, "t"), new File(base, "t.next"))
      write(target, "a", "old")
      write(staged, "a", "new")
      Scratch.swapIn(staged, target)
      assert(read(target, "a") == "new" && !staged.exists())
      assert(base.list().toSet == Set("t"))
    }
  }

  test("a failed rename leaves the original tree intact and raises an error") {
    Scratch.withTree("graft-swap-") { base =>
      val target = new File(base, "t")
      write(target, "a", "old")
      // a staged tree that does not exist cannot be renamed in
      val err = intercept[IllegalStateException](Scratch.swapIn(new File(base, "missing"), target))
      assert(err.getMessage.contains("could not swap"))
      assert(read(target, "a") == "old")
      assert(base.list().toSet == Set("t"))
    }
  }
}
