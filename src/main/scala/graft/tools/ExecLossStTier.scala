package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Executor-loss × streaming × RocksDB tier (r13, verdict ask 4): kill -9
  * a REAL executor JVM while a Structured Streaming query is mid-micro-
  * batch with its state on `RocksDBStateStoreProvider` — the production
  * state-store backend — and prove restore-from-checkpoint: every st row
  * must come back exact (`recovered_exact`) or fail fast and rerun exact
  * (`failfast_rerun_exact`); `WRONG` must never appear.
  *
  * Why this composition is new coverage: the r12 execloss tier killed an
  * executor under st8 on the DEFAULT (HDFS-backed in-memory map) state
  * store, and the r12 strocksdb tier ran the family on RocksDB with no
  * faults. At 100 TB both are simultaneously true — streaming state lives
  * in RocksDB AND executors die — and the recovery path they compose is
  * provider-specific: the relaunched executor must rebuild each lost
  * partition's RocksDB instance from the checkpoint dir's snapshot +
  * changelog before the retried task can commit.
  *
  * Rows run SOLO (direct StreamingOps calls, bypassing the StFamily
  * concurrent launcher) so each kill is attributable to one harness.
  * Judging loop, outcome vocabulary, and artifact plumbing are shared
  * with ExecLossTier via `ExecLossHarness`; one JSON line per (row,
  * phase) appends to arg(0).
  *
  * Conf liveness is proven IN-RUN, not assumed from r12: before the kill
  * rows, a deliberately bogus provider class is set on a child session
  * and a tiny stateful query must fail naming that class — recorded as
  * `provider_conf_live`. A tier where the conf silently didn't reach the
  * state-store layer would otherwise re-prove the default backend.
  */
object ExecLossStTier {

  import ExecutorKill.{waitForExecutors, executorPids}

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    // no default, as in ExecLossTier
    require(args.length == 1, "usage: ExecLossStTier <artifact.json>")
    val artifact = args(0)
    // sf0.1 (same default as ExecLossTier): each solo harness runs multiple
    // micro-batches over real staged input, giving the fuse a mid-batch
    // window to land in
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ExecLossHarness.clusterSession(Map(ProviderKey -> RocksDb))

    // All eight registered streaming harnesses, solo shape, under their
    // Registry names. st2-st5/st7/st8 exercise built-in stateful operators
    // (their per-partition state is what RocksDB holds); st1/st6 are the
    // foreachBatch ingest shapes whose exactly-once story is the parquet
    // fp-store, killed here for the same executor-loss contract.
    val rows: Seq[(String, (SparkSession, String) => DataFrame)] =
      graft.Registry.all.map(_.name).sorted.flatMap { name =>
        graft.streaming.StFamily.members.get(name.takeWhile(_ != '_')).map(name -> _)
      }

    require(waitForExecutors(2), s"expected 2 executor JVMs, saw ${executorPids()}")
    val h = new ExecLossHarness(spark, sfDir, artifact)

    // Mid-micro-batch evidence (r13 review): the fuse is sized from total
    // harness wall-clock, which includes input STAGING — a kill landing
    // there would exercise the staging pin path, not RocksDB state
    // restore, and without a marker the artifact could read zero-WRONG
    // while never touching streaming state. A StreamingQueryListener on
    // this session records every batch-progress instant and each query's
    // active interval; per kill-landed record the tier emits
    // streaming_batches_before_kill (within the current row) and
    // streaming_active_at_kill.
    val progressNanos = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val startedAt = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    val endedAt = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        startedAt.put(e.runId, System.nanoTime())
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progressNanos.add(System.nanoTime())
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        endedAt.put(e.runId, System.nanoTime())
    })
    // attempt-scoped floor (r13 advisor): the harness passes each kill
    // attempt's start nanos — batches recorded before THIS attempt began
    // (another row's, or a prior kill_missed attempt's) must not count as
    // its evidence, else a retry kill landing during input staging could
    // report batches > 0 while streaming_active_at_kill reads false
    def evidence(attemptStart: Long, killedAt: Long): Seq[(String, String)] = {
      import scala.jdk.CollectionConverters._
      val batches = progressNanos.asScala.count(t => t >= attemptStart && t < killedAt)
      val active = startedAt.asScala.exists { case (id, t0) =>
        t0 < killedAt && Option(endedAt.get(id)).forall(_ > killedAt)
      }
      Seq("streaming_batches_before_kill" -> batches.toString,
        "streaming_active_at_kill" -> active.toString)
    }

    try {
      // Conf-liveness probe: a bogus provider must break a stateful query
      // by NAME. (The green rows below then genuinely ran on RocksDB.)
      val probeSession = spark.newSession()
      probeSession.conf.set(ProviderKey, "org.example.NoSuchProvider")
      val probeOutcome =
        try { StatefulProbe.run(probeSession); "provider_probe_VACUOUS" }
        catch { case e: Throwable =>
          val texts = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
            .map(t => t.getClass.getName + " " + Option(t.getMessage).getOrElse(""))
            .mkString(" | ")
          if (texts.contains("NoSuchProvider")) "provider_conf_live"
          else "provider_probe_unexpected: " + texts.take(200)
        }
      h.record("phase" -> h.str("rocksdb_liveness"), "outcome" -> h.str(probeOutcome),
        "provider" -> h.str(RocksDb))
      require(probeOutcome == "provider_conf_live",
        s"state-store provider conf did not reach the state-store layer: $probeOutcome")

      rows.foreach { case (name, fn) =>
        val (baseline, fuse) = h.baselineFuse(name, fn)
        h.runPhase(name, "rocksdb_execloss", fn, baseline, fuse,
          Seq("provider" -> h.str("rocksdb")), evidence)
      }
    } finally h.close()

    println(s"[execloss-st] artifact -> $artifact")
    spark.stop()
  }
}
