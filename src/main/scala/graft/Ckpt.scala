package graft

import org.apache.spark.sql.Dataset

/** Central dispatch for plan-severing materialization of reused or
  * iteratively-rebuilt intermediates (the eager-construction operators:
  * LSH+CC, BPE rounds, IVF/PQ training, PageRank, the streaming family's
  * drained results).
  *
  * Default: `localCheckpoint` — blocks live on executors, NOT replicated.
  * That is the right cost model for the per-round tiers and for clusters
  * where a failed query is simply rerun: zero DFS traffic, and task-level
  * failures still recover (the blocks themselves are the recovery point).
  * The documented boundary (RUNBOOK "localCheckpoint caveat") is executor
  * LOSS: blocks on the dead executor are gone and the query fails fast.
  *
  * `SPARK_GRAFT_RELIABLE_CKPT=1` (or JVM property `graft.reliableCkpt`,
  * which wins, so an in-process A/B can toggle per-phase) switches every
  * pin site to reliable `Dataset.checkpoint()` against the context's
  * checkpoint dir (Spark's `spark.checkpoint.dir`, read at context start,
  * or `spark.sparkContext.setCheckpointDir`; falls back to a temp dir
  * deleted at JVM exit; on a real cluster use a DFS path). Reliable
  * checkpoints survive executor loss — lost partitions re-READ the
  * checkpoint files instead of failing the query — at the price of one
  * extra computation of the pinned plan (Spark's checkpoint job runs
  * after the materializing job) plus DFS write traffic. Deployments pick
  * per-job: rerun-on-loss (default) vs in-query loss tolerance (flag).
  *
  * Both forms sever the logical plan identically (downstream plans scan
  * the materialized RDD), so operator semantics, the determinism
  * invariant (PlanAudit), and every oracle row are unaffected by the
  * flag — pinned by CkptSpec and the executor-loss tier artifact.
  *
  * Long-job housekeeping under the flag: the iterative operators pin
  * once per round (BPE merges, CC label propagation, Lloyd passes), and
  * reliable checkpoint files are NOT deleted when the round's Dataset
  * goes out of scope unless the session was built with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (a
  * context-start conf — it cannot be set here). The exec-loss tiers'
  * `ExecLossHarness.clusterSession` and the test session set it, and
  * CkptSpec pins the sweep mechanism (5 dropped rounds → ≤1 surviving
  * snapshot). Deployments enabling SPARK_GRAFT_RELIABLE_CKPT should set
  * the same conf (or sweep the checkpoint dir between jobs); otherwise a
  * long iterative job accumulates one pinned snapshot per round on the
  * DFS.
  *
  * Releases go through [[Ckpt.release]] and nowhere else: it is the one
  * place that frees a pin's blocks before the ContextCleaner would.
  */
object Ckpt {

  private[graft] def reliable: Boolean =
    sys.props.get("graft.reliableCkpt")
      .orElse(sys.env.get("SPARK_GRAFT_RELIABLE_CKPT"))
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  private def ensureCheckpointDir(ds: Dataset[_]): Unit = {
    val sc = ds.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(Scratch.deleteAtExit(java.nio.file.Files
        .createTempDirectory("graft-reliable-ckpt").toFile).toString)
  }

  implicit class PinOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Eager plan-severing pin (the `localCheckpoint()` shape). */
    def pin(): Dataset[T] =
      if (reliable) { ensureCheckpointDir(ds); ds.checkpoint() }
      else ds.localCheckpoint()

    /** Lazy pin (the `localCheckpoint(false)` shape): plan severed now,
      * blocks land on the first downstream job. */
    def pinLazy(): Dataset[T] =
      if (reliable) { ensureCheckpointDir(ds); ds.checkpoint(eager = false) }
      else ds.localCheckpoint(false)
  }

  /** Release the storage blocks behind a pinned Dataset now.
    *
    * `Dataset.unpersist` only covers `cache()`; a local checkpoint's blocks
    * live on the `LogicalRDD`'s RDD and otherwise survive until the
    * ContextCleaner notices the RDD is unreachable (driver-GC-timed, 30 min
    * periodic floor) — in an iterative loop that means O(rounds) superseded
    * intermediates pinned in executor storage. Both pin forms analyze to a
    * `LogicalRDD`, so this also fires under the reliable flag, harmlessly:
    * that form's data lives in checkpoint files (cleaner-swept). Callers
    * MUST only release a pin whose every consumer has fully materialized
    * (e.g. after a full-relation action on the successor round): the pin
    * severed lineage, so a consumer that still needs these blocks cannot
    * recompute them. */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
