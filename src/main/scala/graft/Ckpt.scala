package graft

import scala.collection.mutable

import org.apache.spark.StoredBlocks
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

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
  * JVM property `graft.reliableCkpt=true` (read at every pin, so an
  * in-process A/B can toggle it per phase) switches every
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
  * snapshot). Deployments enabling `graft.reliableCkpt` should set
  * the same conf (or sweep the checkpoint dir between jobs); otherwise a
  * long iterative job accumulates one pinned snapshot per round on the
  * DFS.
  *
  * Releases go through [[Ckpt.rounds]]' sweep and [[Ckpt.release]] and
  * nowhere else: they are the only places that free a pin's blocks before
  * the ContextCleaner would.
  */
object Ckpt {

  private[graft] def reliable: Boolean =
    sys.props.get("graft.reliableCkpt").exists(v => v == "1" || v.equalsIgnoreCase("true"))

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
      * and the pinned RDD's blocks land on the first downstream job. The
      * pin plans its query now, though: under AQE (Spark's default) that
      * runs the query's shuffle-map and broadcast stages as jobs of their
      * own, here; with AQE off only its broadcasts (and range-partition
      * sampling) run here. */
    def pinLazy(): Dataset[T] =
      if (reliable) { ensureCheckpointDir(ds); ds.checkpoint(eager = false) }
      else ds.localCheckpoint(false)
  }

  /** The RDDs behind `ds`'s pinned leaves: both pin forms analyze to a
    * `LogicalRDD` over the RDD that holds the pin's blocks. */
  private def pinnedRdds(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Release the storage blocks behind a pinned Dataset now.
    *
    * `Dataset.unpersist` only covers `cache()`; a local checkpoint's blocks
    * live on the `LogicalRDD`'s RDD and otherwise survive until the
    * ContextCleaner notices the RDD is unreachable (driver-GC-timed, 30 min
    * periodic floor). Both pin forms analyze to a `LogicalRDD`, so this
    * also fires under the reliable flag, harmlessly: that form's data lives
    * in checkpoint files (cleaner-swept). Callers MUST only release a pin
    * whose every consumer has fully materialized: the pin severed lineage,
    * so a consumer that still needs these blocks cannot recompute them.
    * A loop does not prove this by hand: it runs through [[rounds]]. */
  def release(ds: Dataset[_]): Unit = pinnedRdds(ds).foreach(_.unpersist(blocking = false))

  /** The pins of one [[rounds]] loop: `pins(ds)` is `ds.pinLazy()`,
    * registered so that the loop's sweep may release it. Only pins made
    * through the handle are ever released, so a caller's input pin, or a
    * pin another thread makes on the same context, is never touched. */
  final class Pins private[Ckpt] () {
    private[Ckpt] val rdds = mutable.ArrayBuffer.empty[RDD[_]]
    def apply[T](ds: Dataset[T]): Dataset[T] = { val p = ds.pinLazy(); rdds ++= pinnedRdds(p); p }
  }

  /** The one round loop of the iterative operators (CC, BPE, PageRank,
    * Lloyd): `init` builds round 0's state, `next` builds round k's from
    * round k−1's, and the loop stops at the first round `done` accepts.
    * Each operator keeps its own round rule; `rounds` owns the pins and
    * their release.
    *
    * After each `done` (whose action, if any, materializes the round)
    * `rounds` sweeps: it walks the RDD lineage of the `live` state's pinned
    * leaves, stopping at a pin of this loop that is checkpointed or whose
    * every partition has a stored block, and releases every pin of this
    * loop the walk did not reach. A stored pin is where a reader of the
    * live state stops reading, so a pin is freed exactly when nothing live
    * can read it. Both stops are needed: Spark marks only the first marked
    * RDD a result job reaches as checkpointed, and under AQE a lazy pin's
    * map stages run at pin time and mark nothing. */
  def rounds[S](init: Pins => S)(live: S => Seq[Dataset[_]])(
      next: (Pins, S, Int) => S)(done: (S, Int) => Boolean): S = {
    val pins = new Pins
    def sweep(s: S): Unit = {
      val own = pins.rdds.map(_.id).toSet
      val reached = mutable.Set.empty[Int]
      def walk(r: RDD[_]): Unit =
        if (reached.add(r.id) && !(own(r.id) && (r.isCheckpointed || StoredBlocks.all(r))))
          r.dependencies.foreach(d => walk(d.rdd))
      live(s).flatMap(pinnedRdds).foreach(walk)
      pins.rdds.filterInPlace(r => reached(r.id) || { r.unpersist(blocking = false); false })
    }
    var state = init(pins)
    var round = 0
    while (!done(state, round)) { sweep(state); round += 1; state = next(pins, state, round) }
    sweep(state)
    state
  }
}
