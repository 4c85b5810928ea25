package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Chaos must compose with ANY master: local mode reads task retries
    * from the master-string suffix (the `spark.task.maxFailures` conf is
    * ignored there), so every local form — bare `local`, `local[N]`,
    * `local[*]`, and `local[N,F]` with F<3 — is rewritten to carry
    * maxFailures 3 when injection is on. Non-local masters pass through
    * (the conf is authoritative and set separately). Pinned by
    * VerifyMasterSpec. */
  private[graft] def chaosMaster(raw: String, chaos: Boolean): String = {
    val LocalN = """local\[(\d+|\*)\]""".r
    // whitespace around the comma mirrors Spark's own
    // LOCAL_N_FAILURES_REGEX — "local[4, 1]" is a valid master and must
    // be rewritten too (r12 review)
    val LocalNF = """local\[(\d+|\*)\s*,\s*(\d+)\]""".r
    raw match {
      case "local" if chaos => "local[1,3]"
      case LocalN(n) if chaos => s"local[$n,3]"
      case LocalNF(n, f) if chaos && f.toInt < 3 => s"local[$n,3]"
      case m => m
    }
  }

  /** Chaos tier (SPARK_GRAFT_CHAOS, see Tables.injectChaos): first
    * attempts of ~20% of source tasks throw, so the master must allow
    * retries. SPARK_GRAFT_ST_CHAOS (r12) injects INSIDE stateful
    * micro-batch tasks (StreamingOps.injectStChaos) and shares the
    * plumbing. */
  private def chaosOn(env: Map[String, String]): Boolean =
    env.contains("SPARK_GRAFT_CHAOS") || env.contains("SPARK_GRAFT_ST_CHAOS")

  /** Cluster tier (SPARK_GRAFT_MASTER, e.g. local-cluster[2,16,6144]):
    * the whole registry across REAL executor JVMs — closures over RPC,
    * netty shuffles/broadcasts, remote state stores and checkpoint blocks,
    * which local[N] cannot exercise. Needs SPARK_SCALA_VERSION=2.13 in the
    * env (the executor launcher resolves its classpath without the shell
    * scripts). Chaos composes: retry tolerance is the maxFailures conf in
    * cluster form and a master-string suffix locally (chaosMaster). Verify
    * honours the SPARK_GRAFT_CONF_* passthrough. */
  private[graft] def sessionPolicy(env: Map[String, String]): SessionPolicy = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val chaos = chaosOn(env)
    val masterRaw = env.getOrElse("SPARK_GRAFT_MASTER",
      if (chaos) s"local[$cpus,3]" else s"local[$cpus]")
    SessionPolicy(chaosMaster(masterRaw, chaos), cpus,
      if (chaos) Seq("spark.task.maxFailures" -> "3") else Nil, passthrough = true)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val chaos = chaosOn(sys.env)
    val spark = sessionPolicy(sys.env).build()
    // Provenance for invariance tiers (r14): the JVM-defaults tier re-runs
    // the registry under a hostile default locale + timezone (tr-TR /
    // non-UTC) and needs in-artifact evidence the options actually reached
    // the forked JVM — without this line a vacuous run (options silently
    // dropped) would read as a passing tier.
    println(s"[verify] jvm_defaults locale=${java.util.Locale.getDefault}" +
      s" tz=${java.util.TimeZone.getDefault.getID}" +
      s" session_tz=${spark.conf.get("spark.sql.session.timeZone")}")
    // Non-vacuity evidence for the fault tiers, counted by ONE task
    // listener and printed at the end, one line per tier that is on:
    //  - chaos: injected failures and the successful second attempts — a
    //    chaos run that recorded zero retried tasks proved nothing;
    //  - spill (SPARK_GRAFT_SPILL_REPORT=1): executed spill totals — a
    //    "correct under pressure" tier where nothing spilled proved only
    //    that the pressure knob was too loose;
    //  - speculation (SPARK_GRAFT_SPEC_REPORT=1, r13): whether the
    //    speculation scheduler was genuinely armed (the conf is
    //    context-start, so it is read back from the LIVE SparkConf — a
    //    typo'd passthrough prints false and flags the tier vacuous) and the
    //    speculative ATTEMPT counts, with the known structural caveat: on
    //    one machine TaskSetManager never places a speculative clone (the
    //    dequeueSpeculativeTask !hasAttemptOnHost guard — RUNBOOK records
    //    the executed straggler probe), so armed-with-zero-placed is the
    //    expected honest reading, and the tier's value is that the
    //    speculation machinery (speculatable-task scanning inside
    //    TaskSetManager on every interval tick) ran against all 134 queries
    //    without perturbing results.
    val spillReport = sys.env.contains("SPARK_GRAFT_SPILL_REPORT")
    val specReport = sys.env.contains("SPARK_GRAFT_SPEC_REPORT")
    val Seq(chaosFailures, chaosRetriedOk, spillMem, spillDisk, specStarted, specWon) =
      Seq.fill(6)(new java.util.concurrent.atomic.AtomicLong)
    if (chaos || spillReport || specReport) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskStart(e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
          if (e.taskInfo != null && e.taskInfo.speculative) specStarted.incrementAndGet()
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          e.reason match {
            case f: org.apache.spark.ExceptionFailure
                if f.description.contains("graft-chaos") => chaosFailures.incrementAndGet()
            case _ =>
              if (e.taskInfo != null && e.taskInfo.successful && e.taskInfo.attemptNumber > 0)
                chaosRetriedOk.incrementAndGet()
          }
          if (e.taskMetrics != null) {
            spillMem.addAndGet(e.taskMetrics.memoryBytesSpilled)
            spillDisk.addAndGet(e.taskMetrics.diskBytesSpilled)
          }
          if (e.taskInfo != null && e.taskInfo.speculative && e.taskInfo.successful)
            specWon.incrementAndGet()
        }
      })
    new java.io.File(outDir).mkdirs()
    // local-iteration aid: SPARK_GRAFT_ONLY=q48,tx6 restricts the dump to
    // matching query names (comma-separated prefixes); unset = full run,
    // which is what the driver does
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    def wanted(name: String): Boolean =
      only.forall(_.exists(p => name.startsWith(p)))
    // Supplementary per-query timing (r13 verdict item 8): the seconds each
    // dump took, written as <outDir>_VERIFYTIME.json BESIDE outDir (see
    // the sibling-path note at the write site below — a file inside
    // outDir would be swept up as a failed rows-only query). A second,
    // harness-independent per-query timing record immune to the bench
    // line-budget — SUPPORTING evidence only (the dump action is
    // coalesce(1)+parquet, not the bench's noop write, so absolute values
    // differ from BENCH; same-corpus cross-round ratios are the use).
    var dumpSecs = List.empty[(String, Double)]
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumpSecs ::= name -> (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // SIBLING path, deliberately outside outDir: the correctness checker
    // enumerates outDir/* as query dumps (tools/check.py's rows-only
    // sweep — and the driver's checker does the same), so a metadata file
    // INSIDE outDir would be recorded as a failed rows-only query.
    def fmt(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    Files.writeString(Paths.get(s"${outDir.stripSuffix("/")}_VERIFYTIME.json"),
      dumpSecs.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${fmt(v)}" }
        .mkString("{", ",", "}"))
    if (chaos)
      println(s"[chaos] injected_failures=${chaosFailures.get} retried_ok=${chaosRetriedOk.get}" +
        (if (chaosFailures.get == 0) " — VACUOUS: no task was actually killed" else ""))
    if (spillReport)
      println(s"[spill] memory_spilled_bytes=${spillMem.get} disk_spilled_bytes=${spillDisk.get}" +
        (if (spillDisk.get == 0) " — VACUOUS: nothing spilled, tighten the pressure" else ""))
    if (specReport) {
      val armed = spark.sparkContext.getConf.getBoolean("spark.speculation", false)
      println(s"[speculation] armed=$armed" +
        s" multiplier=${spark.sparkContext.getConf.get("spark.speculation.multiplier", "unset")}" +
        s" quantile=${spark.sparkContext.getConf.get("spark.speculation.quantile", "unset")}" +
        s" speculative_started=${specStarted.get} speculative_won=${specWon.get}" +
        (if (!armed) " — VACUOUS: spark.speculation did not reach the scheduler" else
          " (zero placed is expected on one host: dequeueSpeculativeTask's" +
            " !hasAttemptOnHost guard — see RUNBOOK)"))
    }
    spark.stop()
  }
}
