package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Events
import graft.streaming.StreamingOps

/** Streaming twins must agree with their batch counterparts when the whole
  * corpus arrives as one micro-batch. */
class StreamingSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("streaming tumbling counts equal the batch operator") {
    val q = StreamingOps.runToMemory(
      StreamingOps.tumblingCounts(StreamingOps.eventStream(spark, sf)),
      "stream_tumbling", OutputMode.Update)
    try {
      val streamed = spark.table("stream_tumbling")
        .select("w_start", "event_type", "n", "total_value")
        .collect().map(_.toString).sorted.toSeq
      val batch = Events.tumbling(spark, sf)
        .select("w_start", "event_type", "n", "total_value")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("session windows produce plausible sessions") {
    val q = StreamingOps.runToMemory(
      StreamingOps.sessionWindows(StreamingOps.eventStream(spark, sf)),
      "stream_sessions", OutputMode.Complete) // session windows reject Update
    try {
      val df = spark.table("stream_sessions")
      assert(df.count() > 0)
      assert(df.filter(col("s_end") < col("s_start")).count() == 0)
    } finally q.stop()
  }

  test("st2: multi-batch session_window sessionization equals the batch lag/running-sum form") {
    import org.apache.spark.sql.expressions.Window
    // the full st2 harness: three ts-range files, one per micro-batch, so
    // sessions genuinely merge across batches in the state store
    val streamed = StreamingOps.sessionizationFromStream(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val run = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = 1800000000L
    val batch = Tables(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .withColumn("new_s",
        when(lag("ts_us", 1).over(w).isNull ||
          col("ts_us") - lag("ts_us", 1).over(w) > gap, 1).otherwise(0))
      .withColumn("session_id", sum("new_s").over(run))
      .groupBy("user_id", "session_id")
      .agg(min("ts_us").as("s_start_us"),
        (max("ts_us") + gap).as("s_end_us"),
        count(lit(1)).as("n_events"))
      .select("user_id", "s_start_us", "s_end_us", "n_events")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
  }

  test("st3: Append-mode emission equals the batch sessions closed by the final watermark") {
    import org.apache.spark.sql.expressions.Window
    // the st3 harness: four ts-range files, Append mode — a session is
    // emitted exactly once, when the watermark passes its end (the
    // bounded-state eviction path a production stream runs on)
    val streamed = StreamingOps.closedSessionsFromStream(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val run = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = 1800000000L
    val events = Tables(spark, sf, "events")
    // final watermark: ms-floored max event time minus the 2h delay
    // (emission is inclusive at equality) — semantics pinned by the r09
    // boundary probe, documented at StreamingOps.closedSessionsFromStream
    val maxUs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val wmUs = (maxUs / 1000L - 7200000L) * 1000L
    val sessions = events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .withColumn("new_s",
        when(lag("ts_us", 1).over(w).isNull ||
          col("ts_us") - lag("ts_us", 1).over(w) > gap, 1).otherwise(0))
      .withColumn("session_id", sum("new_s").over(run))
      .groupBy("user_id", "session_id")
      .agg(min("ts_us").as("s_start_us"),
        (max("ts_us") + gap).as("s_end_us"),
        count(lit(1)).as("n_events"))
    val closed = sessions.filter(col("s_end_us") <= wmUs)
      .select("user_id", "s_start_us", "s_end_us", "n_events")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == closed)
    // non-vacuous: the watermark must leave SOME sessions open (else this
    // test would not distinguish Append eviction from Complete re-emission)
    assert(sessions.count() > closed.size,
      "every session closed — the corpus no longer exercises end-of-stream open state")
  }

  test("late data within the watermark delay merges; below-watermark rows drop deterministically") {
    // Every registered streaming row (st1–st5) stages TIME-ORDERED batches,
    // which certifies state continuation but never the out-of-order path a
    // real stream actually faces. This pins BOTH halves of the watermark
    // contract on the session-window store, with hand-placed timestamps and
    // semantics PROBED EMPIRICALLY first (the st3 method; RUNBOOK "Late
    // data") because Spark 4 propagates TWO watermarks per batch
    // (SPARK-42376): the late-events filter uses the watermark as of the
    // PREVIOUS batch's start, eviction uses the current one. So:
    //  (a) a row that arrives out of order but above the late-events
    //      watermark merges into the session it belongs to — even when it
    //      is already below the EVICTION watermark (it then emits at once);
    //  (b) a row below the late-events watermark — i.e. outdated by an
    //      advance two or more batches ago — drops, deterministically,
    //      counted by numRowsDroppedByWatermark.
    Scratch.withTree("graft-late-") { base =>
      val t0 = 1767225600000000L // 2026-01-01 00:00:00 UTC, µs
      val mn = 60L * 1000000L
      import spark.implicits._
      def mk(rows: Seq[(Long, Long)], i: Int): Unit =
        rows.toDF("user_id", "us")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
          .coalesce(1).write.parquet(f"$base/c$i%02d.parquet")
      // batch 0: user 1 opens a session [t0, t0+10m]
      mk(Seq((1L, t0), (1L, t0 + 10 * mn)), 0)
      // batch 1: t0+5m is OUT OF ORDER (below batch 0's max) but above every
      // watermark -> must merge into user 1's open session, not duplicate it;
      // user 2's row advances batch 2's eviction watermark to t0+280m
      mk(Seq((1L, t0 + 5 * mn), (2L, t0 + 400 * mn)), 1)
      // batch 2: watermark heartbeat only
      mk(Seq((2L, t0 + 500 * mn)), 2)
      // batch 3: t0+100m is below its late-events watermark (= batch 2's
      // eviction watermark, t0+280m) -> DROPPED; were it accepted it would
      // form its own session ending t0+130m, which the final watermark
      // (t0+680m) would emit — so its absence is observable in the output,
      // not just in the drop counter. User 2's last row stays open
      // (end t0+830m > final watermark t0+680m).
      mk(Seq((1L, t0 + 100 * mn), (2L, t0 + 800 * mn)), 3)
      val schema = spark.read.parquet(s"$base/c00.parquet").schema
      val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$base/*.parquet/*.parquet")
      val q = StreamingOps.runToMemory(
        StreamingOps.sessionWindows(stream), "late_sessions", OutputMode.Append)
      try {
        val got = spark.table("late_sessions")
          .select(col("user_id"), unix_micros(col("s_start")),
            unix_micros(col("s_end")), col("n_events"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
        val gap = 30 * mn
        assert(got == Set(
          (1L, t0, t0 + 10 * mn + gap, 3L), // n=3 proves the late row MERGED
          (2L, t0 + 400 * mn, t0 + 400 * mn + gap, 1L),
          (2L, t0 + 500 * mn, t0 + 500 * mn + gap, 1L)), // and NO t0+100m session
          s"unexpected emission set: $got")
        // non-vacuous: the state operator itself must report exactly the one
        // below-watermark drop (without this, (b) could pass by the row never
        // reaching the operator at all)
        val dropped = q.recentProgress
          .flatMap(_.stateOperators.headOption.map(_.numRowsDroppedByWatermark)).sum
        assert(dropped == 1L, s"expected exactly 1 watermark drop, saw $dropped")
      } finally {
        q.stop()
        spark.catalog.dropTempView("late_sessions")
      }
    }
  }

  test("checkpoint restart restores session state: merge crosses the restart, no re-emission") {
    // The fault-tolerance path a 100 TB deployment actually relies on:
    // stop a stateful query, start a NEW query instance on the SAME
    // checkpoint, and the state store must restore (an open session merges
    // with post-restart arrivals), the watermark must resume, and the file
    // sink's transaction log must prevent re-emission of sessions already
    // written before the stop. The foreachBatch fp-store test covers a
    // hand-rolled store's replay; this covers Spark's own checkpoint
    // machinery end to end.
    Scratch.withTree("graft-restart-") { base =>
      val inDir = new java.io.File(base, "in"); inDir.mkdirs()
      val outDir = new java.io.File(base, "out").getPath
      val ckpt = new java.io.File(base, "ckpt").getPath
      val t0 = 1767225600000000L
      val mn = 60L * 1000000L
      import spark.implicits._
      def mk(rows: Seq[(Long, Long)], i: Int): Unit =
        rows.toDF("user_id", "us")
          .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
          .coalesce(1).write.parquet(f"$inDir/c$i%02d.parquet")
      def runOnce(): Unit = {
        val schema = spark.read.parquet(s"$inDir/c00.parquet").schema
        val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$inDir/*.parquet/*.parquet")
        StreamingOps.runAvailableNow(spark)(Seq(StreamingOps.sessionWindows(stream).writeStream
          .outputMode(OutputMode.Append).format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)))
      }
      def emitted(): Set[(Long, Long, Long, Long)] =
        spark.read.parquet(outDir)
          .select(col("user_id"), unix_micros(col("s_start")),
            unix_micros(col("s_end")), col("n_events"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
      val gap = 30 * mn
      // RUN 1: user 1's session closes (watermark t0+280m passes its end);
      // user 2's session [t0+400m, +30m) is OPEN in state at shutdown
      mk(Seq((1L, t0), (1L, t0 + 10 * mn)), 0)
      mk(Seq((2L, t0 + 400 * mn)), 1)
      runOnce()
      val afterRun1 = emitted()
      assert(afterRun1 == Set((1L, t0, t0 + 10 * mn + gap, 2L)),
        s"run 1 should emit exactly user 1's closed session: $afterRun1")
      // RUN 2, same checkpoint: t0+420m must merge into the RESTORED open
      // session (within-gap continuation across the restart); t0+900m
      // advances the watermark to t0+780m, closing the merged session
      mk(Seq((2L, t0 + 420 * mn)), 2)
      mk(Seq((3L, t0 + 900 * mn)), 3)
      runOnce()
      assert(emitted() == Set(
        (1L, t0, t0 + 10 * mn + gap, 2L), // not re-emitted (exactly-once sink log)
        (2L, t0 + 400 * mn, t0 + 420 * mn + gap, 2L)), // n=2: state restored + merged
        s"run 2 emission set wrong: ${emitted()}")
      // user 3's session (end t0+930m > watermark t0+780m) stays open —
      // the restart proof is non-vacuous only if state outlives run 2 too
    }
  }

  test("runAvailableNow scopes the FileSystem checkpoint manager and the partition count") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.{Dataset, Row}
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val parts = "spark.sql.shuffle.partitions"
    def confs = (spark.conf.getOption(key), spark.conf.get(parts))
    val before = confs
    Scratch.withTree("graft-run-scope-") { dir =>
      def writer(body: Dataset[Row] => Unit) =
        spark.readStream.schema("id BIGINT").parquet(s"$dir/in").writeStream
          .foreachBatch { (batch: Dataset[Row], _: Long) => body(batch) }
      spark.range(3).write.parquet(s"$dir/in")
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
      StreamingOps.runAvailableNow(spark, Some(3))(Seq(writer { batch =>
        seen.add((batch.sparkSession.conf.get(key), batch.sparkSession.conf.get(parts))); ()
      }))
      val fsManager = classOf[org.apache.spark.sql.execution.streaming.checkpointing
        .FileSystemBasedCheckpointFileManager].getName
      assert(seen.asScala.toSet == Set((fsManager, "3")), s"in-batch confs: $seen")
      assert(confs == before, "confs not restored after the run")
      // a body that throws before any query starts, and a query whose batch
      // throws: both restore the confs, and the failed query is stopped
      intercept[IllegalStateException] {
        StreamingOps.runAvailableNow(spark, Some(3))(throw new IllegalStateException("no writers"))
      }
      assert(confs == before, "confs not restored after a throwing body")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamingOps.runAvailableNow(spark, Some(3))(Seq(
          writer(_ => throw new IllegalStateException("batch failed")).queryName("graft_failing")))
      }
      assert(confs == before, "confs not restored after a failed query")
      assert(!spark.streams.active.exists(_.name == "graft_failing"), "failed query left running")
    }
  }

  test("a streaming member that throws deletes its staging tree") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def st2Trees = Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("graft-st2-")).toSet
    val before = st2Trees
    Scratch.withTree("graft-empty-source-") { empty =>
      intercept[Exception](StreamingOps.sessionizationFromStream(spark, empty.getPath))
      assert((st2Trees -- before).isEmpty, s"leaked staging trees: ${st2Trees -- before}")
    }
  }

  test("streaming dedup drops cross-file duplicates down to the batch-distinct set") {
    // a source directory where every event arrives twice (two identical
    // files), streamed file-at-a-time so duplicates cross micro-batches
    Scratch.withTree("graft-stream-dedup") { dir =>
      val events = Tables(spark, sf, "events")
      events.coalesce(1).write.mode("overwrite").parquet(s"$dir/a.parquet")
      events.coalesce(1).write.mode("overwrite").parquet(s"$dir/b.parquet")
      val schema = spark.read.parquet(s"$dir/a.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/*.parquet/*.parquet")
      val q = StreamingOps.runToMemory(
        StreamingOps.streamingDedup(stream, "ts", "2 hours", "event_id"),
        "stream_dedup", OutputMode.Append)
      try {
        val streamed = spark.table("stream_dedup")
        assert(streamed.count() == events.count())
        assert(streamed.select("event_id").distinct().count() == events.count())
      } finally q.stop()
    }
  }

  test("the cleaning pipeline's stateless prefix runs identically as a stream") {
    val sfDir = sf
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$sfDir/documents.*")
    val q = StreamingOps.runToMemory(
      graft.operators.Pipeline.qualityLangFilter(stream).select("doc_id"),
      "stream_clean", OutputMode.Append)
    try {
      val streamed = spark.table("stream_clean").collect()
        .map(_.getLong(0)).sorted.toSeq
      val batch = graft.operators.Pipeline
        .qualityLangFilter(Tables(spark, sfDir, "documents"))
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("stratified sampling runs identically as an ingest-time stream filter") {
    val sfDir = sf
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$sfDir/documents.*")
    val q = StreamingOps.runToMemory(
      graft.operators.Sampling.stratifiedKeep(stream).select("doc_id"),
      "stream_sample", OutputMode.Append)
    try {
      val streamed = spark.table("stream_sample").collect()
        .map(_.getLong(0)).sorted.toSeq
      val batch = graft.operators.Sampling.stratifiedSample(spark, sfDir)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("BPE encoding runs identically as an ingest-time stream transform") {
    val sfDir = sf
    // vocabulary trained once in batch; the encode then applies it to the
    // arriving stream as a stateless narrow map
    val merges = graft.operators.Bpe.learnMerges(spark, sfDir, 8)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$sfDir/documents.*")
    val q = StreamingOps.runToMemory(
      graft.operators.Bpe.encodeWith(stream, merges),
      "stream_bpe", OutputMode.Append)
    try {
      val streamed = spark.table("stream_bpe").collect()
        .map(_.toString).sorted.toSeq
      val batch = graft.operators.Bpe
        .encodeWith(Tables(spark, sfDir, "documents"), merges)
        .collect().map(_.toString).sorted.toSeq
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch interval join") {
    val stream = StreamingOps.eventStream(spark, sf)
    val q = StreamingOps.runToMemory(
      StreamingOps.intervalPairs(stream, "30 minutes"),
      "stream_pairs", OutputMode.Append)
    try {
      val streamed = spark.table("stream_pairs")
        .collect().map(_.toString).sorted.toSeq
      val ev = Tables(spark, sf, "events")
      val a = ev.select(col("user_id"), col("event_id").as("id_a"), col("ts").as("ts_a"))
      val b = ev.select(col("user_id").as("user_b"), col("event_id").as("id_b"), col("ts").as("ts_b"))
      val batch = a.join(b,
          col("user_id") === col("user_b") &&
            col("ts_b") > col("ts_a") &&
            col("ts_b") <= col("ts_a") + expr("INTERVAL 30 minutes"))
        .select(col("user_id"), col("id_a"), col("id_b"))
        .collect().map(_.toString).sorted.toSeq
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("st4: multi-batch stream-stream join equals the batch join and crosses batch cuts") {
    val streamed = StreamingOps.intervalPairsFromStream(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val ev = Tables(spark, sf, "events")
    val a = ev.select(col("user_id"), col("event_id").as("id_a"),
      unix_micros(col("ts")).as("us_a"))
    val b = ev.select(col("user_id").as("user_b"), col("event_id").as("id_b"),
      unix_micros(col("ts")).as("us_b"))
    val pairs = a.join(b,
      col("user_id") === col("user_b") &&
        col("us_b") > col("us_a") &&
        col("us_b") <= col("us_a") + 1800000000L)
    val batch = pairs.select(col("user_id"), col("id_a"), col("id_b"))
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty && streamed == batch)
    // non-vacuous: EVERY staging cut must split some joinable pair (a
    // filed in an earlier micro-batch than b), else this proves nothing
    // beyond the single-batch test above — pairSplitCuts guarantees it by
    // snapping cuts to within-interval successor timestamps.
    val Seq(lo, hi) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long])
    val cuts = StreamingOps.pairSplitCuts(ev, lo, hi, nFiles = 3, iv = 1800000000L)
    cuts.foreach { c =>
      assert(pairs.filter(col("us_a") < c && col("us_b") >= c).count() > 0,
        s"cut $c splits no pair — cross-batch join state was not exercised")
    }
  }

  test("st5: registry forward-fill harness equals batch ev17 and carries state across batches") {
    val streamed = StreamingOps.forwardFillFromStream(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.operators.Events.forwardFill(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty && streamed == batch)
    // non-vacuous: some user's fill must CROSS a staging cut — a purchase
    // filed in an earlier micro-batch than a row it fills, else all three
    // batches resolved their fills locally and the carried state store was
    // never exercised. Equi-width thirds over ts re-derive the exact cuts.
    val ev = Tables(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
    val Seq(lo, hi) = ev.agg(min(col("us")), max(col("us")))
      .collect()(0).toSeq.map(_.asInstanceOf[Long])
    val span = hi - lo + 1
    val cuts = (1 until 3).map(i => lo + i * (span / 3))
    val crossing = cuts.exists { c =>
      ev.filter(col("event_type") === "purchase" && col("us") < c).select("user_id")
        .intersect(ev.filter(col("us") >= c).select("user_id"))
        .limit(1).count() > 0
    }
    assert(crossing, "no user's purchase precedes a later-batch row — carry never crossed a cut")
  }

  test("st7: executed dropDuplicatesWithinWatermark equals batch distinct and suppresses across batch cuts") {
    val streamed = StreamingOps.dedupWithinWatermarkFromStream(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val ev = Tables(spark, sf, "events")
    val batch = ev.select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts")).as("w_start")).distinct()
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty && streamed == batch)
    // duplicates existed at all — suppression non-vacuous in aggregate
    assert(ev.count() > batch.size, "no duplicate (user, type, hour) key in the corpus")
    // and every staging cut splits some key's duplicates — keySplitCuts
    // re-derived: occurrence 1 filed strictly before the cut, a later
    // occurrence at/after it, so the dedup store suppressed ACROSS batches
    val keyed = ev.select(col("user_id"), col("event_type"),
      date_trunc("hour", col("ts")).as("w_start"), unix_micros(col("ts")).as("us"))
    val Seq(lo, hi) = keyed.agg(min(col("us")), max(col("us")))
      .collect()(0).toSeq.map(_.asInstanceOf[Long])
    val cuts = StreamingOps.keySplitCuts(
      ev.select(col("user_id"), col("event_type"), col("ts")), lo, hi, nFiles = 3,
      Seq(col("user_id"), col("event_type"), date_trunc("hour", col("ts"))))
    cuts.foreach { c =>
      assert(keyed.filter(col("us") < c).select("user_id", "event_type", "w_start")
        .intersect(keyed.filter(col("us") >= c).select("user_id", "event_type", "w_start"))
        .limit(1).count() > 0,
        s"cut $c splits no duplicate key — cross-batch dedup state was not exercised")
    }
  }

  test("st8: Append-mode tumbling emission equals the batch windows closed by the final watermark") {
    val streamed = StreamingOps.closedTumblingFromStream(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val ev = Tables(spark, sf, "events")
    val maxUs = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    // ms-floored watermark, inclusive close — the st3-pinned semantics
    val wmUs = (maxUs / 1000L - 7200000L) * 1000L
    val all = Events.tumbling(spark, sf)
    val closed = all.filter(unix_micros(col("w_start")) + 3600000000L <= wmUs)
      .collect().map(_.toString).sorted.toSeq
    assert(closed.nonEmpty && streamed == closed)
    // non-vacuous: an open tail exists — windows the watermark has not
    // closed are withheld, the bounded-state emission contract
    assert(all.count() > closed.size, "no open window tail — eviction boundary untested")
  }

  test("streaming LOCF across time-ordered micro-batches equals the batch window exactly") {
    import org.apache.spark.sql.expressions.Window
    Scratch.withTree("graft-locf") { dir =>
      val ev = Tables(spark, sf, "events")
        .select("user_id", "ts", "event_id", "event_type", "value")
      // global time quartiles arrive as four ordered micro-batches, so
      // per-user order across batches matches batch
      val chunked = ev.withColumn("chunk",
        ntile(4).over(Window.orderBy(unix_micros(col("ts")), col("event_id"))))
      (1 to 4).foreach { i =>
        chunked.filter(col("chunk") === i).drop("chunk")
          .coalesce(1).write.parquet(s"$dir/c$i.parquet")
      }
      val schema = spark.read.parquet(s"$dir/c1.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/*.parquet/*.parquet")
      val q = StreamingOps.runToMemory(
        StreamingOps.locfUpdates(stream).toDF(), "stream_locf", OutputMode.Append)
      try {
        // per-event emission: every input row appears exactly once with its
        // fill — compare the full densified relation, not a summary
        val streamed = spark.table("stream_locf")
          .select("user_id", "event_id", "ts_us", "event_type", "last_purchase_value")
          .collect().map(_.toString).sorted.toSeq
        val batch = Events.forwardFill(spark, sf)
          .collect().map(_.toString).sorted.toSeq
        assert(batch.nonEmpty && streamed == batch)
      } finally q.stop()
    }
  }

  test("streaming at-ingest LSH near-dup: id-sliced batches converge to dd4's exact candidate set") {
    Scratch.withTree("graft-lsh") { dir =>
      val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      // DELIBERATELY interleaved id-residue slices, not ordered chunks:
      // bucket membership is a set union and the cap kill is a predicate of
      // final size, so the fold must converge from ANY slicing
      (0 until 3).foreach { i =>
        docs.filter(col("doc_id") % 3 === i)
          .coalesce(1).write.parquet(s"$dir/c$i.parquet")
      }
      val schema = spark.read.parquet(s"$dir/c0.parquet").schema
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/*.parquet/*.parquet")

      // banded-bucket half: final snapshot per bucket = max nSeen emission
      val q1 = StreamingOps.runToMemory(
        StreamingOps.lshBucketUpdates(stream).toDF(), "stream_lsh_buckets", OutputMode.Append)
      val bucketPairs =
        try {
          val all = spark.table("stream_lsh_buckets")
            .collect().map(r => ((r.getInt(0), r.getString(1)), r.getLong(2),
              r.getBoolean(3), r.getSeq[Long](4)))
          all.groupBy(_._1).values.map(_.maxBy(_._2)).filterNot(_._3)
            .flatMap { case (_, _, _, ms) =>
              for (i <- ms.indices; j <- i + 1 until ms.length) yield (ms(i), ms(j))
            }.toSeq
        } finally q1.stop()

      // full-signature star half: state is O(1) per group (count, canon) and
      // the output is an append log of per-arrival (doc → canon) assignments;
      // membership = distinct emitted docIds per group, canon = min — the
      // batch (min member, other) pair set reconstructed from the log alone
      val q2 = StreamingOps.runToMemory(
        StreamingOps.sigGroupUpdates(stream).toDF(), "stream_lsh_sigs", OutputMode.Append)
      val starPairs =
        try {
          val all = spark.table("stream_lsh_sigs")
            .collect().map(r => (r.getString(0), r.getLong(2)))
          all.groupBy(_._1).values.map(_.map(_._2).distinct.sorted)
            .filter(_.length > 1)
            .flatMap(ms => ms.tail.map(m => (ms.head, m))).toSeq
        } finally q2.stop()

      val streamed = (bucketPairs ++ starPairs).distinct.sorted
      val batch = operators.Dedup.lshCandidates(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.distinct.sorted
      assert(batch.nonEmpty && streamed == batch)
    }
  }

  test("st6 registered row: at-ingest log reconstruction + shared verification equals batch dd4 exactly") {
    // the registered end-to-end shape (stage → two streaming queries →
    // distributed log reconstruction → shared exact verification) must
    // reproduce dd4's verified pair relation bit-for-bit — the
    // stream≡batch proof that carries st6's oracle row
    val streamed = Registry.queries("st6_stream_lsh_neardup")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val batch = Registry.queries("dd4_minhash_lsh")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(batch.nonEmpty && streamed == batch)
  }

  test("incremental ingest dedup: persistent fp store across micro-batches equals batch dedup; replay is a no-op") {
    import org.apache.spark.sql.expressions.Window
    Scratch.withTree("graft-ingest") { base =>
      val (inDir, fpDir, outDir) = (s"$base/in", s"$base/fp", s"$base/out")
      val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      // three id-ordered chunks: the first occurrence of every fingerprint
      // carries the lowest doc_id, so the incremental keep-list must equal
      // the batch keep-list exactly
      val chunked = docs.withColumn("chunk", ntile(3).over(Window.orderBy("doc_id")))
      (1 to 3).foreach { i =>
        chunked.filter(col("chunk") === i).drop("chunk")
          .coalesce(1).write.parquet(s"$inDir/c$i.parquet")
      }
      val schema = spark.read.parquet(s"$inDir/c1.parquet").schema
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*.parquet/*.parquet")
      StreamingOps.incrementalDedupIngest(stream, fpDir, outDir).stop()
      def keeps = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val batchKeeps = operators.Dedup.fingerprint(spark, sf)
        .select("keep_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(batchKeeps.nonEmpty && keeps == batchKeeps)
      // replay the whole stream against the surviving store: every batch id
      // is already committed, so survivors must not change
      StreamingOps.incrementalDedupIngest(stream, fpDir, outDir).stop()
      assert(keeps == batchKeeps)
    }
  }
}
