package graft.tools

import scala.jdk.CollectionConverters._

/** Shared executor-JVM kill machinery for the executor-loss tiers
  * (`ExecLossTier`, `ExecLossStTier`) — one implementation of the pid
  * scan, the readiness wait, and the fuse-kill thread, so a fix to any of
  * them cannot leave the tiers diverged (r12 review).
  *
  * Scoped to THIS application only: local-cluster forks Worker →
  * executor processes under the driver JVM, so candidates are
  * descendants of the current process — a host-wide scan could kill an
  * unrelated Spark application's executor (r11 advisor).
  */
object ExecutorKill {

  def executorPids(): Seq[Long] =
    ProcessHandle.current().descendants().iterator().asScala
      .filter(_.info().commandLine().orElse("")
        .contains("CoarseGrainedExecutorBackend"))
      .map(_.pid()).toSeq

  def waitForExecutors(n: Int, timeoutMs: Long = 120000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (executorPids().size < n && System.currentTimeMillis() < deadline)
      Thread.sleep(500)
    executorPids().size >= n
  }

  /** Fire-once fuse: after `fuseMs`, kill -9 ONE executor JVM of this
    * application. Firing is tracked with an explicit flag (not a
    * nanoTime sign test — System.nanoTime has an arbitrary origin and
    * may legally be negative); the caller asserts kill-before-job-end
    * ordering rather than trusting the sleep (r11 advisor). `cancel()`
    * interrupts a still-sleeping fuse so a query that finished early is
    * not followed by a pointless post-job kill + executor-relaunch wait
    * (r12 review). */
  final class Killer(fuseMs: Long, label: String) {
    @volatile private var atNanos = 0L
    @volatile private var didFire = false
    private val t = new Thread(() => {
      try {
        Thread.sleep(fuseMs)
        executorPids().headOption.foreach { p =>
          ProcessHandle.of(p).ifPresent(_.destroyForcibly())
          atNanos = System.nanoTime()
          didFire = true
        }
      } catch { case _: InterruptedException => () /* cancelled pre-fire */ }
    }, s"graft-executor-killer-$label")
    t.setDaemon(true)

    def start(): Unit = t.start()
    def join(ms: Long): Unit = t.join(ms)
    /** Best-effort: stop a fuse that has not fired yet (a fuse already
      * past its sleep may still fire — the caller re-checks
      * [[landedBefore]]). */
    def cancel(): Unit = t.interrupt()
    /** nanoTime at which the kill fired; meaningful only after a fire. */
    def firedAtNanos: Long = atNanos
    /** True iff the kill fired strictly before `doneNanos`. */
    def landedBefore(doneNanos: Long): Boolean =
      didFire && atNanos < doneNanos
  }
}
