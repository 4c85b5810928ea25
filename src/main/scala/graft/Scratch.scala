package graft

import java.io.File

/** Local scratch trees: the one recursive delete, the one JVM-exit cleanup
  * hook, and the tree-per-call wrapper built from both. The hook is a
  * single JVM-wide thread over a shared list (per-call hooks leak a thread
  * each). */
object Scratch {

  private val atExit = new java.util.concurrent.ConcurrentLinkedQueue[File]
  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => atExit.forEach(f => delete(f))))
    true
  }

  /** Delete `f` and everything under it; a missing `f` is a no-op. */
  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  /** Delete `f` when the JVM exits — for a tree that a lazily-read result
    * still scans after the call that wrote it returns. */
  def deleteAtExit(f: File): File = {
    require(hookInstalled)
    atExit.add(f)
    f
  }

  /** Trees registered with [[deleteAtExit]] and not yet deleted. */
  private[graft] def pendingAtExit: Set[File] = {
    import scala.jdk.CollectionConverters._
    atExit.asScala.toSet
  }

  /** Replace the tree `target` with the tree `staged`: park `target`
    * aside, rename `staged` in, and only then delete the parked tree. If
    * the rename fails, the parked tree is renamed back and this throws, so
    * a failure leaves `target` as it was; a crash between the renames
    * leaves either tree whole under one of the two names. A missing
    * `target` is simply replaced. */
  def swapIn(staged: File, target: File): Unit = {
    val parked = new File(target.getPath + ".tmp-old")
    delete(parked) // a crashed swap's leftover
    if (target.exists() && !target.renameTo(parked))
      throw new IllegalStateException(s"could not park $target")
    if (!staged.renameTo(target)) {
      parked.renameTo(target)
      throw new IllegalStateException(s"could not swap $staged in for $target")
    }
    delete(parked)
  }

  /** Run `body` on a fresh tree in `java.io.tmpdir` and delete the tree
    * when `body` returns or throws; the exit hook only catches a JVM that
    * exits mid-run. A caller may run many times per JVM (Bench re-times a
    * streaming member), so a tree must not wait for exit, and `body` must
    * not return anything that still reads the tree. */
  def withTree[T](prefix: String)(body: File => T): T = {
    val base = deleteAtExit(java.nio.file.Files.createTempDirectory(prefix).toFile)
    try body(base) finally {
      delete(base)
      atExit.remove(base)
    }
  }
}
