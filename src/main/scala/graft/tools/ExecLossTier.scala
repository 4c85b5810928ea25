package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Executor-LOSS tier (r12): kill -9 a REAL executor JVM mid-query on
  * `local-cluster[2,16,8192]` and record, per recovery class, what the
  * engine actually did. The r11 chaos tiers proved task-RETRY recovery
  * (in-task throws); this tier proves the harder fault a 1000-executor
  * cluster sees daily — a whole executor dying with its shuffle outputs
  * and cached blocks — against the library's two lineage shapes:
  *
  *  - pure-lineage rows (declarative plans, no pinned blocks): Spark
  *    re-schedules lost tasks, regenerates lost shuffle outputs via stage
  *    resubmission, and the row must come back EXACT — `recovered_exact`.
  *  - pin-severed rows (`Ckpt.pin`, default localCheckpoint): blocks on
  *    the dead executor are unrecoverable by design, so the CONTRACT is
  *    fail-fast-never-wrong: either the kill landed harmlessly (blocks
  *    elsewhere / already consumed → `recovered_exact`) or the query
  *    throws and a from-scratch rerun is exact — `failfast_rerun_exact`.
  *    The one outcome that must never appear is `WRONG` (silent result
  *    corruption after a loss).
  *  - the same pinned rows under `graft.reliableCkpt=true` (`Ckpt.pin` →
  *    reliable `checkpoint()`): checkpoint files live on the shared FS,
  *    not in executor memory, so the loss must recover in-query —
  *    `recovered_exact` expected even when the kill lands mid-iteration.
  *
  * Outcomes are judged against a no-kill baseline hash computed in the
  * same JVM/session first (behind a 2-executor readiness wait, so a
  * degraded post-kill cluster cannot inflate the fuse estimate). One
  * JSON line per (row, phase) is APPENDED to the artifact path in
  * arg(0) as it is produced — a mid-run abort loses nothing already
  * recorded (r12 review). The judging loop, outcome vocabulary, and
  * artifact plumbing live in `ExecLossHarness` (r13: shared with the
  * streaming/RocksDB tier `ExecLossStTier`).
  */
object ExecLossTier {

  import ExecutorKill.{waitForExecutors, executorPids}

  def main(args: Array[String]): Unit = {
    // no default: the tier appends, so a default path grows a tracked file
    require(args.length == 1, "usage: ExecLossTier <artifact.json>")
    val artifact = args(0)
    // sf0.1 by default: cluster-mode queries run seconds there, so the
    // mid-query kill has a real window to land even on the fast
    // pure-lineage rows (at sf0.01 q03/q10 complete in well under a
    // second warm and most kills would record kill_missed)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ExecLossHarness.clusterSession()

    // (row, fn, pinned?) — two pure-lineage rows, three pin-severed rows
    // across the iterative families (LSH+CC candidates, Lloyd iterations,
    // BPE delta rounds), one streaming row (state stores + pinned drain).
    val rows: Seq[(String, (SparkSession, String) => DataFrame, Boolean)] = Seq(
      ("q03_top_revenue_orders", graft.SparkEntry.queries("q03_top_revenue_orders"), false),
      ("q10_grouping_sets", graft.SparkEntry.queries("q10_grouping_sets"), false),
      ("dd4_minhash_lsh", graft.SparkEntry.queries("dd4_minhash_lsh"), true),
      ("ss4_ivf_kmeans", graft.SparkEntry.queries("ss4_ivf_kmeans"), true),
      ("bp3_bpe_merges_distributed", graft.SparkEntry.queries("bp3_bpe_merges_distributed"), true),
      // direct call: bypasses the StFamily concurrent launcher (solo shape)
      ("st8_stream_closed_windows",
        (s: SparkSession, d: String) => graft.streaming.StreamingOps.closedTumblingFromStream(s, d),
        true))

    require(waitForExecutors(2), s"expected 2 executor JVMs, saw ${executorPids()}")
    val h = new ExecLossHarness(spark, sfDir, artifact)

    try rows.foreach { case (name, fn, pinned) =>
      val (baseline, fuse) = h.baselineFuse(name, fn)
      h.runPhase(name, "local_ckpt", fn, baseline, fuse,
        Seq("pinned" -> pinned.toString))

      // reliable-checkpoint phase for the pinned rows: same kill, but
      // Ckpt.pin now writes checkpoint files to the shared FS — the
      // in-query loss-tolerance switch RUNBOOK documents, exercised
      if (pinned && name != "st8_stream_closed_windows") {
        sys.props("graft.reliableCkpt") = "true"
        try {
          h.ready("reliable baseline")
          val base2 = h.resultHash(fn(spark, sfDir))
          h.record(Seq("query" -> h.str(name), "phase" -> h.str("reliable_ckpt_baseline"),
            "outcome" -> h.str(if (base2 == baseline) "flag_identical" else "WRONG")): _*)
          h.runPhase(name, "reliable_ckpt", fn, baseline, fuse, Seq.empty)
        } finally sys.props.remove("graft.reliableCkpt")
      }
    } finally h.close()

    println(s"[execloss] artifact -> $artifact")
    spark.stop()
  }
}
