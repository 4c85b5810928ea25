package graft.tools

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics

/** The janino compilations one call triggers. `CodegenMetrics` is one
  * JVM-wide counter, and in local mode executor tasks compile in the same
  * JVM, so the counter is read only when the context is quiet: the
  * listener bus drained and no stage or task active. A compile made by a
  * task still running after the caller's action returned (a stage AQE
  * cancelled, a broadcast nobody waited for) then lands on the call that
  * started it, not on the next one. Another thread's concurrent jobs
  * still count; waiting for quiet gives up after [[MaxWaitMs]]. */
object Compiles {

  val MaxWaitMs = 10000L

  def of[T](sc: SparkContext)(body: => T): (T, Long) = {
    settle(sc)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    settle(sc)
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  private def settle(sc: SparkContext): Unit = {
    val deadline = System.nanoTime() + MaxWaitMs * 1000000L
    def busy: Boolean = {
      ListenerBusDrain(sc)
      sc.statusTracker.getActiveStageIds.nonEmpty ||
        sc.statusTracker.getExecutorInfos.exists(_.numRunningTasks > 0)
    }
    while (busy && System.nanoTime() < deadline) Thread.sleep(5)
  }
}
