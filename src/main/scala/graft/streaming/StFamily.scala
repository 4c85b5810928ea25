package graft.streaming

import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Concurrent launcher for the eight registered streaming rows (st1–st8).
  *
  * Why it exists: each st row is a full Structured Streaming harness —
  * stage input files, start a query, run 3–48 micro-batches, drain a sink —
  * and pays a fixed ~3–5 s of trigger/commit machinery, not data cost.
  * Much of that floor was process creation on checkpoint writes, which
  * the tmpfs A/Bs (no storage effect) could not see: without the native
  * Hadoop library, Spark's default checkpoint manager ran
  * `chmod`/`readlink`/`stat` child processes for every offset, commit,
  * log and state-store file, and Hadoop's local FileSystem forks a
  * `chmod` for every file and directory it creates.
  * `StreamingOps.runAvailableNow` starts every stream with the
  * FileSystem-based manager over [[graft.LocalFs]], which sets
  * permissions without a fork (RUNBOOK, "Streaming checkpoint writes");
  * the forks left are the members' batch staging writes, outside that
  * scope. Run back to back
  * (the r09 shape) the family paid 8 × that floor ≈ 31–36 s of the whole
  * sf0.1 bench. The floors OVERLAP when the queries run concurrently —
  * st6's two internal AvailableNow queries proved it (6.9 → 5.1 s sf0.1) —
  * and a production deployment runs exactly this way: one cluster, many
  * independent streaming queries sharing executors, not a serial chain.
  *
  * Mechanics: the FIRST st row requested for a corpus launches all eight
  * members concurrently, each on its own `spark.newSession()` child (so
  * per-query `spark.sql.shuffle.partitions` scoping — a start-time state
  * property — cannot cross-talk) and its own staging/checkpoint trees,
  * then caches each member's fully-materialized result ([[Member.run]]
  * pins it before returning). Subsequent rows collect their cached
  * result. Entries are SINGLE-SHOT (removed on fetch): a repeat
  * invocation of any row — Bench's outlier re-time, a second Verify pass —
  * re-runs the whole family live rather than reading a stale cache, so no
  * timing or correctness path ever observes a result it did not pay for.
  *
  * Timing attribution (Bench runs rows alphabetically): st1 carries the
  * family launch — its reading IS the family's concurrent wall-clock —
  * and st2–st8 read as the cache fetch (~0.05 s each). The family TOTAL in
  * the bench is therefore the real end-to-end cost of producing all eight
  * results once, same as before, just not serialized. RefSeconds reflects
  * this attribution.
  *
  * A single row runs standalone as a direct call of its member function
  * (StreamingSpec, ExecLossTier, ExecLossStTier); every registry consumer
  * — Bench, Verify, TimeQuery — goes through the launcher.
  *
  * Failure isolation: a member that throws caches its Failure; the rows
  * that didn't fail stay green, and the failing row's exception surfaces
  * on ITS fetch — per-row error semantics in Bench/Verify are unchanged.
  */
object StFamily {

  val members: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st1" -> StreamingOps.dedupIngestKeepList _,
    "st2" -> StreamingOps.sessionizationFromStream _,
    "st3" -> StreamingOps.closedSessionsFromStream _,
    "st4" -> StreamingOps.intervalPairsFromStream _,
    "st5" -> StreamingOps.forwardFillFromStream _,
    "st6" -> StreamingOps.lshPairsFromStream _,
    "st7" -> StreamingOps.dedupWithinWatermarkFromStream _,
    "st8" -> StreamingOps.closedTumblingFromStream _)

  /** Registry adapter: the function registered for streaming row `code`. */
  def row(code: String): (SparkSession, String) => DataFrame = {
    require(members.contains(code), s"unknown streaming row $code")
    (s: SparkSession, d: String) => fetch(s, d, code)
  }

  // guarded by this object's lock
  private val cache = mutable.Map.empty[(String, String), Try[DataFrame]]

  // 8 long-lived await-ers, one per member; actual parallelism comes from
  // Spark's scheduler underneath. Daemon threads so the pool never blocks
  // JVM exit.
  private lazy val pool: ExecutionContext = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(members.size, (r: Runnable) => {
      val t = new Thread(r, "graft-st-family")
      t.setDaemon(true)
      t
    }))

  /** Take the cached result of `code`, launching the family first when it
    * is missing. One lock covers the take and the launch, so a concurrent
    * fetch of the same row waits for the launch under way rather than
    * racing it for the single-shot entry, and a concurrent first fetch from
    * two threads runs one family launch, not two. */
  private def fetch(s: SparkSession, d: String, code: String): DataFrame = {
    synchronized {
      if (!cache.contains((d, code))) runFamily(s, d)
      cache.remove((d, code)).get
    }.get
  }

  /** Launch every member whose result is not already cached, concurrently,
    * and cache the results (caller holds the lock). Launching only the
    * MISSING members matters beyond economy: consumers that fetch a subset
    * of rows (the plan-shape spec sweeps exclude st1) leave the others'
    * entries behind, and a later fetch must re-produce the consumed rows
    * rather than see a leftover and conclude the family already ran (the
    * r10 bug: an any-entry-for-this-dir guard returned without producing
    * the requested row). */
  private def runFamily(s: SparkSession, d: String): Unit = {
    val missing = members.toSeq.filter { case (code, _) => !cache.contains((d, code)) }
    implicit val ec: ExecutionContext = pool
    val t0 = System.nanoTime()
    val launched = missing.map { case (code, fn) =>
      code -> Future {
        val r = Try(fn(s.newSession(), d))
        // per-member completion offset from family launch: the family's
        // wall-clock is max(member), so this names the critical-path member
        println("[stfamily] %s done at +%.2f s".formatLocal(java.util.Locale.ROOT,
          code, (System.nanoTime() - t0) / 1e9))
        r
      }
    }
    launched.foreach { case (code, f) =>
      cache((d, code)) = Await.result(f, Duration.Inf)
    }
  }
}
