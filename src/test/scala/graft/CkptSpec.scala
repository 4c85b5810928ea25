package graft

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.Ckpt.PinOps

/** Contract of the central pin dispatch (`Ckpt.pin`/`pinLazy`) — the
  * executor-loss-tolerance switch the RUNBOOK documents and the
  * ExecLossTier artifact exercises on real executor JVMs.
  *
  * Pinned here, runnable on local[4]:
  *  1. mechanism — default pins are LOCAL checkpoints (executor blocks,
  *     fail-fast on executor loss); under the flag they are RELIABLE
  *     checkpoints with files on the (shared/DFS) checkpoint dir, which
  *     is what survives an executor loss in-query;
  *  2. both forms sever the logical plan (downstream sees a scan of the
  *     materialized RDD, no lineage into the construction);
  *  3. the flag changes no results — a pin-severed operator returns
  *     value-identical rows with the flag on and off;
  *  4. `Ckpt.rounds` releases exactly the pins of its own loop that
  *     nothing live can read.
  * The loss behavior itself (recovered_exact vs failfast_rerun_exact)
  * cannot execute on local[4] — that half of the contract is recorded by
  * `tools/ExecLossTier.scala` on local-cluster (CORRECTNESS_execloss).
  */
class CkptSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def withReliable[T](body: => T): T = {
    sys.props("graft.reliableCkpt") = "true"
    try body finally sys.props.remove("graft.reliableCkpt")
  }

  test("default pin is a local checkpoint; flag switches it to a reliable one") {
    import spark.implicits._
    val df = spark.range(100).map(_ * 2).toDF("v")

    // Dataset.rdd rebuilds a fresh (uncheckpointed) RDD per access; the
    // checkpointed one is the LogicalRDD's internal row RDD. The public
    // local-vs-reliable discriminator is getCheckpointFile — defined only
    // for RELIABLE checkpoints (local checkpoint data has no file).
    def pinnedRdd(ds: org.apache.spark.sql.Dataset[_]) =
      ds.queryExecution.analyzed
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd

    val local = pinnedRdd(df.pin())
    assert(local.isCheckpointed,
      "default pin() must be an (eager local) checkpoint")
    assert(local.getCheckpointFile.isEmpty,
      "default pin() must hold executor blocks, not checkpoint files")

    withReliable {
      val reliableDs = spark.range(100).map(_ * 2).toDF("v").pin()
      val reliable = pinnedRdd(reliableDs)
      assert(reliable.isCheckpointed,
        "flagged pin() must be a reliable checkpoint")
      assert(reliable.getCheckpointFile.isDefined,
        "reliable checkpoint must have files on the checkpoint dir")
      assert(reliableDs.as[Long].collect().sorted.toSeq == (0L until 100).map(_ * 2))
    }
  }

  test("both pin forms sever the logical plan") {
    import org.apache.spark.sql.execution.LogicalRDD
    val df = spark.range(50).toDF("v").groupBy().sum("v")
    assert(df.pin().queryExecution.analyzed.isInstanceOf[LogicalRDD])
    withReliable {
      assert(df.pin().queryExecution.analyzed.isInstanceOf[LogicalRDD])
    }
    // lazy form severs immediately too (materializes on first job)
    assert(df.pinLazy().queryExecution.analyzed.isInstanceOf[LogicalRDD])
  }

  test("flag changes no results on a pin-severed operator (dd4 at sf0.001)") {
    val q = SparkEntry.queries("dd4_minhash_lsh")
    val off = q(spark, sf).collect().map(_.toString).sorted.toSeq
    val on = withReliable(q(spark, sf).collect().map(_.toString).sorted.toSeq)
    assert(off == on, "reliable-checkpoint flag must be result-invisible")
    assert(off.nonEmpty)
  }

  test("reliable-ckpt housekeeping: GC'd pins are swept, no per-round snapshot accumulation") {
    // The Ckpt scaladoc footgun, automated (r13 / r12-verdict ask 6): an
    // iterative operator pins once per round, and without
    // spark.cleaner.referenceTracking.cleanCheckpoints=true (a
    // context-start conf — set in SparkTestSession here, and by the
    // exec-loss tiers' clusterSession) every round leaves a permanent
    // rdd-* snapshot on the DFS. With it, the ContextCleaner deletes a
    // pin's files once the pinned RDD is unreachable — bounding the dir
    // at the live rounds, not the job's lifetime round count.
    assert(spark.sparkContext.getConf
      .get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true")
    withReliable {
      def rddDirs(): Int = {
        val raw = spark.sparkContext.getCheckpointDir.get
        val path = if (raw.contains(":/")) new java.net.URI(raw).getPath else raw
        val d = new java.io.File(path)
        Option(d.listFiles()).map(_.count(_.getName.startsWith("rdd-"))).getOrElse(0)
      }
      import spark.implicits._
      // 5 "rounds", each pinning an intermediate — the iterative-operator
      // shape (BPE merges, CC hops, Lloyd passes). References are HELD for
      // the whole loop: in a long test JVM a mid-loop GC lets the cleaner
      // sweep dropped rounds before the loop even finishes (observed in
      // the full-suite run — the conf working early), which would make a
      // drop-as-you-go >=5 assertion racy. Holding all 5 pins proves the
      // live-rounds bound deterministically; dropping them all proves the
      // sweep.
      val rounds = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.DataFrame]
      (1 to 5).foreach { i =>
        rounds += spark.range(100L + i).map(_ + i).toDF("v").pin()
        assert(rounds.last.count() == 100L + i)
      }
      val pinned = rddDirs()
      assert(pinned >= 5, s"expected >=5 snapshots while all rounds are live, saw $pinned")
      rounds.clear() // every pin is now unreachable
      // The cleaner acts on weak-ref enqueue, so a collection must actually
      // happen. System.gc() alone is a no-op under -XX:+DisableExplicitGC
      // (and advisory on collectors that ignore explicit requests), which
      // would stall this loop 30 s and then fail on a healthy conf (r13
      // advisor) — so each iteration ALSO allocates real garbage pressure
      // (~32 MB) to provoke a collection the JVM cannot decline.
      val explicitGcDisabled = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.contains("-XX:+DisableExplicitGC")
      val deadline = System.currentTimeMillis() + 30000
      var n = rddDirs()
      var pressure = 0L // consumed below so the allocation cannot be DCE'd
      while (n > 1 && System.currentTimeMillis() < deadline) {
        val ballast = Array.fill(32)(new Array[Byte](1 << 20))
        pressure += ballast.iterator.map(_.length.toLong).sum
        if (!explicitGcDisabled) System.gc()
        Thread.sleep(500)
        n = rddDirs()
      }
      assert(pressure >= 0)
      assert(n <= 1, s"checkpoint dir still holds $n snapshots after the sweep " +
        "(cleanCheckpoints conf not honored?)")
    }
  }

  test("lost local-checkpoint blocks fail fast — never partial/wrong rows") {
    // The executable half of the fail-fast-never-wrong contract: a local
    // checkpoint's blocks are the ONLY copy of the data (lineage is
    // truncated), so losing them must make reads THROW, not silently
    // return fewer/other rows. ExecLossTier proves this with a real
    // executor kill; here the same loss is simulated in-CI by dropping
    // the blocks via unpersist — Spark itself warns at that call that a
    // locally-checkpointed RDD "cannot be recomputed after unpersisting".
    import spark.implicits._
    val pinned = spark.range(1000).map(_ + 1).toDF("v").pin()
    assert(pinned.as[Long].collect().length == 1000) // blocks live, readable
    val rdd = pinned.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
    assert(rdd.isCheckpointed && rdd.getCheckpointFile.isEmpty)
    rdd.unpersist(blocking = true)
    val e = intercept[org.apache.spark.SparkException](pinned.count())
    val msg = Option(e.getMessage).getOrElse("") + Option(e.getCause)
      .map(c => " " + c.getMessage).getOrElse("")
    assert(msg.toLowerCase.contains("checkpoint") || msg.contains("not found"),
      s"loss must surface as the checkpoint-block error, got: $msg")
  }

  private def persisted(ds: Dataset[_]): Boolean =
    ds.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
      .forall(spark.sparkContext.getPersistentRDDs.contains)

  /** A five-round `v + 1` chain from `base` through [[Ckpt.rounds]], every
    * state pinned through the handle; `materialize` counts each state in
    * `done`, and `during` runs inside round 1. Returns the last state and
    * every pin the loop made. */
  private def chain(base: DataFrame, materialize: Boolean)(
      during: => Unit = ()): (DataFrame, Seq[DataFrame]) = {
    val made = ListBuffer.empty[DataFrame]
    def pin(pins: Ckpt.Pins, df: DataFrame): DataFrame = { val p = pins(df); made += p; p }
    val last = Ckpt.rounds(pin(_, base))(Seq(_)) { (pins, s, round) =>
      if (round == 1) during
      pin(pins, s.select((col("v") + 1).as("v")))
    } { (s, round) =>
      if (materialize) s.count()
      round >= 5
    }
    (last, made.toSeq)
  }

  private def values(ds: DataFrame): Seq[Long] =
    ds.collect().map(_.getLong(0)).sorted.toSeq

  test("rounds never releases a pin that an unmaterialized live state still reads") {
    // no action runs inside the loop, so the last state reads every pin
    val (last, made) = chain(spark.range(100).toDF("v"), materialize = false)()
    assert(made.size == 6 && made.forall(persisted))
    assert(values(last) == (5L until 105L))
  }

  test("rounds releases the pins a materialized state supersedes") {
    val (last, made) = chain(spark.range(100).toDF("v"), materialize = true)()
    assert(made.size == 6 && persisted(made.last))
    assert(made.init.forall(!persisted(_)), "superseded pins still held")
    assert(values(last) == (5L until 105L))
  }

  test("rounds leaves a pin the caller made before the loop untouched") {
    val base = spark.range(100).toDF("v").pinLazy()
    val (last, made) = chain(base, materialize = true)()
    assert(made.init.forall(!persisted(_)))
    assert(persisted(base) && values(base) == (0L until 100L))
    assert(values(last) == (5L until 105L))
  }

  test("rounds leaves a pin another thread makes on the same context untouched") {
    var other: DataFrame = null
    val t = new Thread(() => other = spark.range(10).toDF("v").pinLazy())
    val (last, made) = chain(spark.range(100).toDF("v"), materialize = true) {
      t.start(); t.join()
    }
    assert(made.init.forall(!persisted(_)))
    assert(persisted(other) && values(other) == (0L until 10L))
    assert(values(last) == (5L until 105L))
  }
}
