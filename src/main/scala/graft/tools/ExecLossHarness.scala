package graft.tools

import graft.SessionPolicy
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared executor-loss judging harness for the exec-kill tiers
  * (`ExecLossTier`, `ExecLossStTier`) — one implementation of the
  * baseline/fuse estimation, the kill-run orchestration, the per-(row,
  * phase) judging loop, and the append-as-produced artifact writer, so a
  * fix to the judging policy cannot leave the tiers diverged (the same
  * single-implementation rule the r12 review applied to ExecutorKill).
  *
  * Outcome vocabulary (shared by every consumer; the contract each
  * outcome encodes is documented on ExecLossTier):
  *  - `recovered_exact`: kill landed mid-query, query finished, hash
  *    equals the no-kill baseline — in-query recovery.
  *  - `failfast_rerun_exact`: kill landed, query THREW, and a
  *    from-scratch rerun on the recovered cluster hashed exact — the
  *    fail-fast-never-wrong half of the pinned-block contract.
  *  - `WRONG`: result differed from baseline after a loss — must never
  *    appear.
  *  - `kill_missed`: query finished exactly before the fuse fired —
  *    honest non-evidence, retried once with a shorter fuse.
  *  - `error_no_kill` / `wrong_no_kill` (+ terminal summaries — `_twice`
  *    only when the anomaly actually repeated, `_terminal` with an
  *    `occurrences` field when it happened once alongside a kill_missed;
  *    r13 advisor): genuine anomalies with no fault injected, recorded
  *    with their evidence, never conflated with kill_missed.
  */
final class ExecLossHarness(spark: SparkSession, sfDir: String, artifact: String) {

  import ExecutorKill.{waitForExecutors, executorPids, Killer}

  /** Order-independent canonical hash of a small result. */
  def resultHash(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  // Append each record as it is produced: a require()-abort or fatal
  // error mid-run must not discard the minutes of evidence before it.
  private val out = java.nio.file.Files.newBufferedWriter(
    java.nio.file.Paths.get(artifact),
    java.nio.file.StandardOpenOption.CREATE,
    java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)

  def record(fields: (String, String)*): Unit = {
    val line = fields.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    println(s"[execloss] $line")
    out.write(line); out.newLine(); out.flush()
  }

  /** JSON string literal; sanitizes EVERY control char (not just \n\r\t):
    * a netty/shuffle error text with a stray NUL or ANSI escape would make
    * the artifact line unparseable and zero the tier's evidence. */
  def str(s: String): String =
    "\"" + s.replaceAll("[\"\\\\\\p{Cntrl}]", " ") + "\""

  def close(): Unit = out.close()

  /** OS-pid presence is necessary but not sufficient: a relaunched
    * CoarseGrainedExecutorBackend process exists before it has REGISTERED
    * with the driver and is schedulable — a baseline started in that
    * window runs on a degraded cluster and inflates the fuse estimate
    * (r12 review). statusTracker counts the driver too, hence n + 1. */
  private def waitForRegistered(n: Int, timeoutMs: Long = 120000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (spark.sparkContext.statusTracker.getExecutorInfos.length < n + 1 &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(500)
    spark.sparkContext.statusTracker.getExecutorInfos.length >= n + 1
  }

  def ready(where: String): Unit = {
    require(waitForExecutors(2), s"executor JVMs did not respawn before $where")
    require(waitForRegistered(2), s"executors did not re-register before $where")
  }

  private def runWithKill(name: String, fn: (SparkSession, String) => DataFrame,
                          fuseMs: Long): (Either[String, String], Boolean, Long) = {
    ready("kill run")
    val killer = new Killer(fuseMs, name)
    killer.start()
    val res =
      try Right(resultHash(fn(spark, sfDir)))
      catch { case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
      }
    val doneAt = System.nanoTime()
    killer.cancel() // a finished query needs no post-job kill (r12 review)
    killer.join(fuseMs + 5000)
    (res, killer.landedBefore(doneAt), killer.firedAtNanos)
  }

  /** No-kill baseline for a row, computed in this same session behind the
    * 2-executor readiness wait (also warms codegen/scans so the kill run's
    * fuse estimate is steady-state). Returns (baseline hash, fuse ms ≈ 40%
    * of the observed duration, floored at 500 ms). */
  def baselineFuse(name: String, fn: (SparkSession, String) => DataFrame): (String, Long) = {
    ready("baseline")
    val t0 = System.nanoTime()
    val baseline = resultHash(fn(spark, sfDir))
    val baseSec = (System.nanoTime() - t0) / 1e9
    (baseline, math.max(500L, (baseSec * 1000 * 0.4).toLong))
  }

  /** One (row, phase): up to two kill attempts against `baseline`,
    * shrinking the fuse after a missed kill; the single judging policy
    * every tier shares (r12 review — previously hand-synced copies).
    * `evidence` (r13 review, attempt-scoped r14) maps (attempt-start
    * nanos, kill fire-time nanos) to extra per-record fields on
    * kill-landed outcomes — the st tier uses it to record whether the
    * kill genuinely landed mid-micro-batch (a fuse at 40% of harness
    * wall-clock can fire during input STAGING, and a tier whose kills
    * never touched streaming state would be vacuous for the
    * restore-from-checkpoint claim while still reading zero-WRONG).
    * The floor is the ATTEMPT start, not the row start: after a
    * kill_missed retry, attempt 1's completed micro-batches must not
    * count as attempt 2's evidence — a retry kill landing during input
    * staging would otherwise still report batches > 0, contradicting
    * its own streaming_active_at_kill=false (r13 advisor). */
  def runPhase(name: String, phase: String,
               fn: (SparkSession, String) => DataFrame,
               baseline: String, fuse0: Long,
               extra: Seq[(String, String)],
               evidence: (Long, Long) => Seq[(String, String)] = (_, _) => Seq.empty): Unit = {
    var fuse = fuse0
    var attempt = 0
    var done = false
    var errorN = 0
    var wrongN = 0
    while (!done && attempt < 2) {
      attempt += 1
      val attemptStart = System.nanoTime()
      runWithKill(name, fn, fuse) match {
        case (Right(h), false, _) if h == baseline =>
          // finished (correctly) before the fuse fired: honest
          // non-evidence for the kill claim
          record(Seq("query" -> str(name), "phase" -> str(phase),
            "outcome" -> str("kill_missed"), "attempt" -> attempt.toString): _*)
          fuse = math.max(200L, fuse / 3) // shorter fuse, try once more
        case (Right(_), false, _) =>
          // finished before the fuse AND hashed wrong: a genuine
          // wrong-result anomaly with NO fault injected — the one
          // thing that must never hide behind a kill_missed label
          wrongN += 1
          record(Seq("query" -> str(name), "phase" -> str(phase),
            "outcome" -> str("wrong_no_kill"), "attempt" -> attempt.toString): _*)
        case (Left(err), false, _) =>
          // FAILED with no kill landed: a genuine anomaly, never to be
          // conflated with kill_missed — record the error and retry
          errorN += 1
          record(Seq("query" -> str(name), "phase" -> str(phase),
            "outcome" -> str("error_no_kill"), "attempt" -> attempt.toString,
            "error" -> str(err)): _*)
        case (Right(h), true, killedAt) =>
          record((Seq("query" -> str(name), "phase" -> str(phase),
            "outcome" -> str(if (h == baseline) "recovered_exact" else "WRONG"),
            "attempt" -> attempt.toString) ++ extra ++
            evidence(attemptStart, killedAt)): _*)
          done = true
        case (Left(err), true, killedAt) =>
          // fail-fast half of the contract: the rerun (executors
          // recovered) must be exact from scratch
          ready("rerun")
          val rerun = resultHash(fn(spark, sfDir))
          record((Seq("query" -> str(name), "phase" -> str(phase),
            "outcome" -> str(if (rerun == baseline) "failfast_rerun_exact" else "WRONG"),
            "attempt" -> attempt.toString, "error" -> str(err)) ++ extra ++
            evidence(attemptStart, killedAt)): _*)
          done = true
      }
    }
    // Terminal summary must not file a real anomaly under a missed-kill
    // label (r12 review) — and must not OVERSTATE it either (r13 advisor):
    // `_twice` only when the anomaly repeated; a single anomaly alongside
    // a kill_missed reads `_terminal` with its occurrence count.
    if (!done) {
      val label =
        if (wrongN >= 2) "wrong_no_kill_twice"
        else if (wrongN == 1) "wrong_no_kill_terminal"
        else if (errorN >= 2) "error_no_kill_twice"
        else if (errorN == 1) "error_no_kill_terminal"
        else "no_kill_landed_twice"
      val occ =
        if (wrongN >= 1) Seq("occurrences" -> wrongN.toString)
        else if (errorN >= 1) Seq("occurrences" -> errorN.toString)
        else Seq.empty
      record((Seq("query" -> str(name), "phase" -> str(phase),
        "outcome" -> str(label)) ++ occ): _*)
    }
  }
}

object ExecLossHarness {

  /** The 2-real-executor cluster session every exec-loss tier runs on;
    * `extraConfs` lets a tier add context confs (the st tier forces the
    * RocksDB state-store provider). Honours the SPARK_GRAFT_CONF_*
    * passthrough, same contract as Verify. */
  private[graft] def clusterPolicy(extraConfs: Map[String, String],
      env: Map[String, String]): SessionPolicy =
    SessionPolicy(env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,16,8192]"), "32",
      // reliable-ckpt housekeeping (r13): the reliable phase pins once per
      // iterative round, and without this context-start conf every round
      // leaves a permanent rdd-* snapshot on the checkpoint dir (the Ckpt
      // scaladoc footgun, mechanism pinned by CkptSpec)
      Seq("spark.cleaner.referenceTracking.cleanCheckpoints" -> "true") ++ extraConfs,
      passthrough = true, logLevel = "ERROR")

  def clusterSession(extraConfs: Map[String, String] = Map.empty): SparkSession =
    clusterPolicy(extraConfs, sys.env).build()
}
