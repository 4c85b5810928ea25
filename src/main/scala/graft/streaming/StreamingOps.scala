package graft.streaming

import graft.Ckpt.PinOps
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions.{window => timeWindow, _}
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}

import graft.{LocalFs, Scratch, Tables}
import graft.operators.Dedup

/** Structured Streaming twins of the batch event operators
  * (graft.operators.Events). The aggregation expressions are byte-for-byte
  * the same as the batch versions — `readStream → transform → writeStream`
  * replaces the scan, which is exactly the Spark-native claim: one
  * declarative plan, batch or streaming execution.
  *
  * At scale: watermarks bound state, windowed aggregations shuffle on
  * (window, key), and sessionization state lives in the state store
  * partitioned by user — all standard Structured Streaming machinery.
  */
object StreamingOps {

  /** File-stream over the events table (glob on the single parquet file;
    * in production this is a directory receiving new files / Kafka). */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val (schema, nanos) = Tables.parquetSchema(spark, s"$dir/events.parquet")
    // glob, not a bare file path: FileStreamSource requires basePath to be a
    // directory and derives it from the glob's parent
    val raw = spark.readStream.schema(schema).parquet(s"$dir/events.*")
    // same nanos-long / TIMESTAMP_NTZ drift handling as every batch read
    // (withColumn conversions work identically on a streaming DataFrame)
    Tables.normalizeTimestamps(raw, nanos)
  }

  /** Watermarked tumbling-window counts (streaming twin of
    * Events.tumbling). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(timeWindow(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // identical to the batch twin (Events.tumbling): exact decimal
        // accumulation, so batch ≡ stream holds at any scale
        sum(expr("try_cast(value AS DECIMAL(18,2))")).cast("double").as("total_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("total_value"))

  /** Built-in session windows (30-minute gap), the streaming analogue of
    * Events.sessions. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("s_start"), col("w.end").as("s_end"), col("n_events"))

  final case class LocfEvent(
      user_id: Long, event_id: Long, ts_us: Long, event_type: String,
      value: Option[Double])
  final case class LocfRow(
      user_id: Long, event_id: Long, ts_us: Long, event_type: String,
      last_purchase_value: Option[Double])
  /** Carried LOCF state: last purchase value per user (+ whether any
    * purchase has been seen — a bare Double can't encode "none yet"). */
  final case class LocfState(last: Double, seen: Boolean)

  /** Streaming twin of Events.forwardFill (ev17 LOCF): one carried value
    * per user in the state store, every event emitted with its fill — the
    * ingest-time densification shape (downstream consumers never see a
    * missing measurement). Rows sort by (ts_us, event_id) within each
    * micro-batch; across time-ordered batches the carry continues from
    * stored state, and since fills are stored values carried VERBATIM (no
    * arithmetic), N-batch output ≡ the one-shot batch window exactly — not
    * just bit-compatible but value-identical by construction. State is
    * O(users); emission is O(events), i.e. Append-mode per-row output. */
  def locfUpdates(events: DataFrame)(implicit spark: SparkSession): Dataset[LocfRow] = {
    import spark.implicits._
    val typed = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("value"))
      .as[LocfEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[LocfState, LocfRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[LocfEvent], state: GroupState[LocfState]) =>
          var st = state.getOption.getOrElse(LocfState(0.0, seen = false))
          val out = rows.toSeq.sortBy(r => (r.ts_us, r.event_id)).map { r =>
            // the purchase row itself carries its own value (the batch
            // window's current-row-inclusive frame). NULL-valued purchases
            // leave the carry untouched — the batch twin's last(...,
            // ignoreNulls = true) contract, and what keeps this row alive
            // on the null-injection tier (value is Option for the same
            // reason: a primitive Double field dies decoding NULL).
            r.value.foreach { v =>
              if (r.event_type == "purchase") st = LocfState(v, seen = true)
            }
            LocfRow(uid, r.event_id, r.ts_us, r.event_type,
              if (st.seen) Some(st.last) else None)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming dedup twin (of Dedup.exact/fingerprint): drop duplicate keys
    * with watermark-BOUNDED state — `dropDuplicatesWithinWatermark` evicts
    * state older than the watermark delay, so a continuously-running dedup
    * holds hours of keys, not the corpus's lifetime. A duplicate arriving
    * outside the delay is also late data and is dropped by the watermark,
    * so the output stays exactly-once per key for any in-delay arrival
    * order. Unbounded-history dedup at 100 TB belongs to the batch
    * operators; this is the ingest-time guard in front of them. */
  def streamingDedup(rows: DataFrame, eventTimeCol: String, delay: String, keys: String*): DataFrame =
    rows.withWatermark(eventTimeCol, delay).dropDuplicatesWithinWatermark(keys.toSeq)

  /** Stream-stream interval self-join (streaming twin of
    * AsOf.eventPairsWithin60s' banded batch form): same-user event pairs
    * where b follows a within `interval`. BOTH sides carry a watermark and
    * the join condition bounds ts_b relative to ts_a, which is exactly what
    * lets Spark evict join state — a buffered left row is droppable once
    * the watermark passes ts_a + interval, so state is O(traffic × window),
    * not O(stream lifetime). `delay` is the late-data tolerance: the
    * production default (2 hours) buffers delay + interval of traffic per
    * side; a source that provably delivers in event-time order (the staged
    * harness) can run it down to the interval itself — the earliest legal
    * eviction point — shrinking state by the same factor. */
  def intervalPairs(events: DataFrame, interval: String = "60 seconds",
      delay: String = "2 hours"): DataFrame = {
    val a = events.withWatermark("ts", delay)
      .select(col("user_id"), col("event_id").as("id_a"), col("ts").as("ts_a"))
    val b = events.withWatermark("ts", delay)
      .select(col("user_id").as("user_b"), col("event_id").as("id_b"), col("ts").as("ts_b"))
    a.join(b,
      col("user_id") === col("user_b") &&
        col("ts_b") > col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr(s"INTERVAL $interval"))
      .select(col("user_id"), col("id_a"), col("id_b"))
  }

  /** Highest batch id already merged into `dir` (−1 if none). */
  private def committedBatchId(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .collect { case f if f.getName.startsWith("_committed_") =>
        f.getName.stripPrefix("_committed_").toLong }
      .foldLeft(-1L)(math.max)

  /** Stage `next` as the new contents of `stateDir` and swap it in
    * atomically with a `_committed_<batchId>` marker INSIDE the staged
    * directory, so data and commit record swap together (the
    * dedup-ingest fingerprint store's commit). The staging write forces
    * the full read of the CURRENT state before anything is touched; a
    * crash between renames leaves either the old or the new complete
    * directory, never a mix. */
  private def commitSwap(stateDir: String, next: DataFrame, batchId: Long): Unit = {
    val target = new java.io.File(stateDir)
    val tmp = stateDir + ".tmp-merge"
    next.write.mode("overwrite").parquet(tmp)
    new java.io.File(tmp, s"_committed_$batchId").createNewFile()
    val parked = new java.io.File(stateDir + ".tmp-old")
    Scratch.delete(parked)
    if (target.exists() && !target.renameTo(parked))
      throw new IllegalStateException(s"state merge could not park $stateDir")
    if (!new java.io.File(tmp).renameTo(target)) {
      parked.renameTo(target) // roll back
      throw new IllegalStateException(s"state merge swap failed for $stateDir")
    }
    Scratch.delete(parked)
  }

  /** Incremental ingest dedup via foreachBatch — the PERSISTENT-state
    * complement of [[streamingDedup]] (whose state dies with the
    * watermark): a parquet fingerprint store survives across runs and
    * restarts, which is the actual training-corpus ingest shape — a crawler
    * delivers batches forever, and a document dropped last month must stay
    * dropped. Per micro-batch: fingerprint (the dd2 normalization), keep
    * the lowest doc_id within the batch, anti-join against the store (only
    * the 16-byte fp column is read — payloads never join), write survivors
    * to `outDir/batch=<id>` (overwrite ⇒ replay-idempotent), and swap the
    * enlarged store in with the commit marker. A replayed batch id is
    * detected from the store and skipped entirely — exactly-once survivors
    * under at-least-once foreachBatch retries. When batches arrive in
    * doc_id order, the union of survivors is EXACTLY the batch
    * `Dedup.fingerprint` keep-list (StreamingSpec proves it, plus replay
    * idempotence). */
  def incrementalDedupIngest(
      docs: DataFrame, fpDir: String, outDir: String): StreamingQuery =
    runAvailableNow(docs.sparkSession)(Seq(docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        mergeDedup(batch, fpDir, outDir, batchId)
      })).head

  private def mergeDedup(batch: DataFrame, fpDir: String, outDir: String, batchId: Long): Unit = {
    if (batchId <= committedBatchId(fpDir)) return // replayed batch
    import org.apache.spark.sql.expressions.Window
    val s = batch.sparkSession
    val withFp = batch.withColumn("fp", Dedup.textFingerprint(col("text")))
    val w = Window.partitionBy("fp").orderBy("doc_id")
    val inBatch = withFp
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    val hasStore = new java.io.File(fpDir).exists()
    // typed with the one column commitSwap writes: no schema-inference job
    lazy val store = s.read.schema("fp string").parquet(fpDir)
    val survivors =
      // null-safe fp equality: md5(NULL text) is NULL, and a plain anti-join
      // would re-admit a NULL-fp doc in EVERY later batch (NULL never
      // equals), silently diverging from the batch keep-list
      (if (hasStore) inBatch.join(store, inBatch("fp") <=> store("fp"), "left_anti")
      else inBatch)
        .pin() // materialize BEFORE the store swaps underneath
    survivors.drop("fp").write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    val nextFps =
      if (hasStore) store.unionByName(survivors.select("fp")).distinct()
      else survivors.select("fp").distinct()
    commitSwap(fpDir, nextFps, batchId)
  }

  /** Registry query (st1): dd2's fingerprint keep-list PRODUCED BY the
    * streaming ingest machinery — the one registered query whose execution
    * runs Structured Streaming end-to-end, so the driver's oracle hash
    * checks the streaming path itself, not just its ScalaTest twin.
    *
    * Choreography: stage the corpus as three parquet files in doc_id-range
    * order (ranges, not a global-window ntile — the registry bans
    * unpartitioned windows), stream them through
    * [[incrementalDedupIngest]] one file per micro-batch (FileStreamSource
    * orders by mtime then path, and the files are written in range order),
    * then read the surviving batches back and recompute each survivor's
    * fingerprint from its text. Batches arriving in id order make
    * first-arrival-wins ≡ min-doc_id-wins, so the result equals the batch
    * dd2 keep-list — which is exactly what the oracle asserts. */
  def dedupIngestKeepList(s: SparkSession, d: String): DataFrame = Scratch.withTree("graft-st1-") { base =>
    val inDir = new java.io.File(base, "in").getPath
    val fpDir = new java.io.File(base, "fp").getPath
    val outDir = new java.io.File(base, "out").getPath
    val docs = graft.Tables(s, d, "documents")
    val Seq(lo, hi) = docs.agg(min("doc_id"), max("doc_id"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long])
    val cut1 = lo + (hi - lo + 1) / 3
    val cut2 = lo + 2 * ((hi - lo + 1) / 3)
    stageConcurrently(Seq(
      col("doc_id") < cut1,
      col("doc_id") >= cut1 && col("doc_id") < cut2,
      col("doc_id") >= cut2
    ).zipWithIndex.map { case (range, i) => () =>
      docs.filter(range).coalesce(1).write.parquet(stagedPath(inDir, i))
    })
    restampInOrder(inDir)
    val stream = stagedStream(s, inDir)
    incrementalDedupIngest(stream, fpDir, outDir)
    // materialize the keep-list off the staging tree (localCheckpoint is
    // eager) before the staging tree is deleted
    val result = sinkOutput(s, outDir, stream)
      .select(
        Dedup.textFingerprint(col("text")).as("fp"),
        col("doc_id").as("keep_id"))
      .pin()
    result.orderBy("keep_id")
  }

  /** Registry query (st2): the watermarked `session_window` sessionization
    * PRODUCED BY Structured Streaming — the second oracle row whose
    * evidence runs through graft.streaming (st1 covers foreachBatch ingest
    * state; this covers the built-in session-window STATE STORE: windows
    * opened in one micro-batch merge with events arriving in later ones).
    *
    * Choreography (st1's staged-files AvailableNow harness, keyed by time
    * instead of doc_id): stage events as three parquet files in ts-range
    * order, stream them one file per micro-batch through
    * [[sessionWindows]] (watermark + 30-minute-gap session windows), run
    * to a memory sink in Complete mode (session merging rewrites past
    * windows — Append would need the watermark to close them, and
    * AvailableNow ends before it advances past the last session), and emit
    * the final session table. Time-ordered batches mean no late data, so
    * the result is the BATCH sessionization of the whole corpus — which is
    * exactly what the oracle asserts, via the ev2 lag/running-sum twin.
    * Gap-boundary semantics verified empirically: events exactly `gap`
    * apart MERGE (Spark's overlap test is inclusive), matching the twin's
    * strict `> gap` new-session rule; window end = last event + gap.
    * Timestamps are emitted as epoch micros (BIGINT) — integer-exact on
    * both engines. */
  def sessionizationFromStream(s: SparkSession, d: String): DataFrame = Scratch.withTree("graft-st2-") { base =>
    val (inDir, _) = stageSessionInput(s, d, base, nFiles = 3)
    val stream = stagedStream(s, inDir)
    // unique sink name: Bench's outlier re-time can run the query twice in
    // one JVM, and a memory-sink queryName cannot be re-registered live
    val name = "st2_sessions_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // Session-window state is O(open sessions) per user — commit overhead
    // dominates at every measured scale, so a small fixed partition count
    // wins (stress A/B: 8 parts 4.85/5.35 s vs 32 parts 6.44/9.88 s for
    // st2/st3). Contrast st4, whose join state buffers full event volume
    // and sizes by statePartitionsFor.
    runToMemory(injectStChaos(sessionWindows(stream)), name,
      OutputMode.Complete, partitions = Some(8))
    drainMemorySink(s, name)
  }

  /** Registry query (st3): the APPEND-mode, watermark-closed half of the
    * sessionization contract — st2 proves session-MERGE state (Complete
    * mode re-emits the whole table), this row proves bounded-state
    * EMISSION: a session leaves the state store exactly once, when the
    * watermark passes its end. That eviction path is what keeps state
    * finite on a forever-running 100 TB stream, and it previously had no
    * recorded oracle row.
    *
    * Choreography: st2's staged harness with FOUR ts-range files — the
    * last file's max ts pushes the final watermark past most earlier
    * sessions; AvailableNow runs a final no-data micro-batch (this build's
    * default `noDataMicroBatches.enabled`) in which that watermark evicts
    * and emits every closed session. Emission semantics pinned empirically
    * on this build (r09 probe, boundary cases at wm, wm±1µs):
    *   - close condition is INCLUSIVE: emitted iff s_end <= wm;
    *   - the watermark is MS-FLOORED: wm_us = (max_ts_us/1000 − delay_ms)·1000
    *     (event-time stats track milliseconds);
    *   - time-ordered staging ⇒ no event is ever late, so the emitted set
    *     is exactly {batch sessions with s_end <= final wm}, which is what
    *     the oracle's filtered ev2-twin asserts.
    * Sessions still open at end-of-stream stay in state and are dropped
    * with it — the production stream would emit them when their watermark
    * arrives; the oracle row certifies the closed set. */
  def closedSessionsFromStream(s: SparkSession, d: String): DataFrame = Scratch.withTree("graft-st3-") { base =>
    val (inDir, _) = stageSessionInput(s, d, base, nFiles = 4)
    val stream = stagedStream(s, inDir)
    val name = "st3_sessions_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // fixed 8 parts: session state is commit-dominated (see st2's note)
    runToMemory(injectStChaos(sessionWindows(stream)), name,
      OutputMode.Append, partitions = Some(8))
    drainMemorySink(s, name)
  }

  /** Stage a projection of the events table as `nFiles` ts-range parquet
    * files under `base`/in — only the columns the streaming consumer reads
    * (the json props column would dominate the staging write and the
    * stream decode). Range cuts, not a global-window ntile (the registry
    * bans unpartitioned windows); files written in range order so
    * FileStreamSource (mtime-then-path order) streams them time-ordered. */
  private def stageSessionInput(
      s: SparkSession, d: String, base: java.io.File, nFiles: Int,
      cols: Seq[String] = Seq("user_id", "ts"),
      pairSplitUs: Option[Long] = None,
      dupKeySplit: Option[Seq[Column]] = None): (String, Long) = {
    val inDir = new java.io.File(base, "in").getPath
    // materialize the slim projection once: the range writes below are
    // nFiles jobs over it, and without it each one re-scans the source
    // parquet (48 full scans at the probe-scaled batch count). PIN, not
    // cache(): Spark's CacheManager is shared across sessions and dedups
    // by canonicalized plan, so two family members staging the SAME
    // projection concurrently (st2/st3 both project user_id,ts) shared one
    // cache entry — and the first member's finally-unpersist dropped the
    // blocks while the other member's staging jobs were still reading them
    // ("Block rdd_N_0 does not exist", surfaced by the full-suite family
    // launch on a slow r13 host). pin()'s localCheckpoint blocks belong to
    // this member's private RDD — plan-equality sharing is impossible.
    import graft.Ckpt.PinOps
    val events = graft.Tables(s, d, "events").select(cols.map(col): _*).pin()
    try {
      val Seq(lo, hi, n) = events
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
          count(lit(1)))
        .collect()(0).toSeq.map(_.asInstanceOf[Long])
      val us = unix_micros(col("ts"))
      val cuts = (pairSplitUs, dupKeySplit) match {
        case (Some(iv), _) => pairSplitCuts(events, lo, hi, nFiles, iv)
        case (None, Some(keys)) => keySplitCuts(events, lo, hi, nFiles, keys)
        case _ => equiCuts(lo, hi, nFiles)
      }
      val bounds = (lo +: cuts) :+ (hi + 1)
      // range writes run CONCURRENTLY (each is a single-task coalesce(1)
      // job over the cached projection — run serially they were nFiles
      // sequential single-thread writes, a visible slice of the harness
      // floor at the stress tiers). Time order is preserved WITHOUT
      // relying on write completion order: FileStreamSource orders by
      // (mtime, path) and the post-write touch below re-stamps each
      // file's mtime in range order.
      stageConcurrently(bounds.init.zip(bounds.tail).zipWithIndex.map {
        case ((cutLo, cutHi), i) => () =>
          events.filter(us >= cutLo && us < cutHi).coalesce(1).write.parquet(stagedPath(inDir, i))
      })
      restampInOrder(inDir)
      (inDir, n)
    } finally {
      // free the PRIVATE pinned blocks now rather than at RDD GC — staging
      // is complete and nothing re-reads the projection. Safe by
      // construction: unlike the former shared cache entry, this RDD is
      // reachable only from this method, so no concurrent reader exists.
      graft.Ckpt.release(events)
    }
  }

  /** State partition count for a stateful stream whose state volume scales
    * with input traffic (the stream-stream join buffers both sides'
    * in-watermark rows): target ~32k buffered rows per store — below that
    * the per-store fixed commit cost dominates (measured: 8 parts beats 32
    * at ≤100k rows, 32 beats 8 at 1M) — floored at 8, capped at the
    * machine's parallelism. */
  private def statePartitionsFor(s: SparkSession, nRows: Long): Int = {
    val byVolume = math.max(8L, nRows / 32768L)
    math.min(s.sparkContext.defaultParallelism.toLong, byVolume).toInt
  }

  /** The one start path of every graft stream: start each writer under
    * the AvailableNow trigger, run it through `processAllAvailable`, and stop
    * them all, on success and on failure. These session confs are scoped
    * to the run and restored after it (a query reads them when it starts,
    * and its cloned session's `newHadoopConf()` carries them to every file
    * the stream writes: offset and commit logs, state-store deltas and
    * snapshots, `_spark_metadata`, `foreachBatch` writes):
    *  - `spark.sql.shuffle.partitions` = `partitions`, when given: a
    *    stateful query's state partition count is pinned at its first
    *    start, so this right-sizes it to the harness's traffic without
    *    touching the session default the batch registry runs under;
    *  - `spark.sql.streaming.checkpointFileManagerClass` = the
    *    FileSystem-based manager. Spark's default FileContext-based one
    *    pays for permission handling on every offset, commit, log and
    *    state-store file, and without the native Hadoop library that runs
    *    `chmod`/`readlink`/`stat` as child processes: one atomic write
    *    measured 26–31 ms and 20 process-and-thread creations, against
    *    6–8 ms and 4 here (RUNBOOK, "Streaming checkpoint writes").
    *    The FileSystem-based manager commits a file by writing a temp file
    *    and `FileSystem.rename`-ing it, which is atomic only where rename
    *    is. That holds for every graft stream: each checkpoints under a
    *    local temp directory (the staging trees of [[Scratch.withTree]],
    *    Spark's own temp checkpoint for memory and `foreachBatch` sinks,
    *    the file sinks' `_spark_metadata` inside the staging trees), where
    *    `FileSystem.rename` is an atomic POSIX rename. A stream that
    *    checkpoints to an object store must not start here. (The
    *    FileContext-based manager builds its own `RawLocalFileSystem`, so
    *    the next entry would not reach it.)
    *  - `fs.file.impl` = [[graft.LocalFs]], which sets permissions through
    *    `java.nio` instead of forking `chmod` for every file and directory
    *    the stream creates (RUNBOOK, "Streaming checkpoint writes"), and
    *    `fs.file.impl.disable.cache` = `true`. The second is required:
    *    Hadoop caches FileSystem instances by scheme, authority and user,
    *    not by conf, so with the cache on the scope would either get an
    *    earlier default instance back or leave graft's instance cached for
    *    every later caller. Executor JVMs load the class for state-store
    *    writes, so a deployment puts graft's classes on the executor class
    *    path.
    * Writers are built inside the scope; the returned queries are stopped
    * and keep their progress history. */
  private[graft] def runAvailableNow(s: SparkSession, partitions: Option[Int] = None)(
      writers: => Seq[DataStreamWriter[_]]): Seq[StreamingQuery] = {
    val scoped = Seq(
      "spark.sql.streaming.checkpointFileManagerClass" ->
        Some(classOf[FileSystemBasedCheckpointFileManager].getName),
      "fs.file.impl" -> Some(classOf[LocalFs].getName),
      "fs.file.impl.disable.cache" -> Some("true"),
      "spark.sql.shuffle.partitions" -> partitions.map(_.toString))
      .collect { case (k, Some(v)) => (k, v, s.conf.getOption(k)) }
    scoped.foreach { case (k, v, _) => s.conf.set(k, v) }
    val started = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    try {
      writers.foreach(w => started += w.trigger(Trigger.AvailableNow()).start())
      started.foreach(_.processAllAvailable())
      started.toSeq
    } finally {
      started.foreach(_.stop())
      scoped.foreach { case (k, _, prev) => prev.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    }
  }

  /** The parquet output at `out` that a stream wrote from `df`'s rows,
    * read back with `df`'s schema: schema inference would run a footer
    * job per read. */
  private[graft] def sinkOutput(s: SparkSession, out: String, df: DataFrame): DataFrame =
    s.read.schema(df.schema).parquet(out)

  /** Run each named frame to an Append-mode parquet FILE sink at
    * `base`/name (checkpoint `base`/name-ckpt), all in one
    * [[runAvailableNow]], and read each sink's output back
    * ([[sinkOutput]]). */
  private[graft] def runToFiles(s: SparkSession, partitions: Int, base: java.io.File)(
      sinks: (String, DataFrame)*): Seq[DataFrame] = {
    val outs = sinks.map { case (name, df) => new java.io.File(base, name).getPath -> df }
    runAvailableNow(s, Some(partitions))(outs.map { case (out, df) =>
      df.writeStream.outputMode(OutputMode.Append).format("parquet")
        .option("path", out).option("checkpointLocation", s"$out-ckpt")
    })
    outs.map { case (out, df) => sinkOutput(s, out, df) }
  }

  /** Staging cuts that provably split a DUPLICATE-KEY group across
    * micro-batches (st7's analogue of [[pairSplitCuts]]): snap each
    * equi-width target to the nearest timestamp that is a strictly-later
    * occurrence within its `keys` group — cutting AT that row (file ranges
    * filter `us >= cut`) files the group's first occurrence strictly
    * earlier, so the cross-batch dedup-suppression claim is non-vacuous by
    * construction. Equi-width fallback on a corpus with no duplicate key
    * at all. */
  def keySplitCuts(events: DataFrame, lo: Long, hi: Long,
      nFiles: Int, keys: Seq[Column]): Seq[Long] = {
    val named = keys.zipWithIndex.map { case (k, i) => k.as(s"k$i") }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.indices.map(i => col(s"k$i")): _*)
    snapCuts(events.select(unix_micros(col("ts")).as("us") +: named: _*)
      .withColumn("first_us", min(col("us")).over(w))
      .filter(col("us") > col("first_us")), lo, hi, nFiles)
  }

  /** The `nFiles − 1` equi-width cuts of the microsecond range `[lo, hi]`. */
  private def equiCuts(lo: Long, hi: Long, nFiles: Int): Seq[Long] =
    (1 until nFiles).map(i => lo + i * ((hi - lo + 1) / nFiles))

  /** The [[equiCuts]], each snapped to the nearest `us` of `cand` (one
    * `min_by` per cut, one collect), with equi-width cuts filling in for
    * targets that snap outside `(lo, hi]` or onto an already picked cut. */
  private def snapCuts(cand: DataFrame, lo: Long, hi: Long, nFiles: Int): Seq[Long] = {
    val equi = equiCuts(lo, hi, nFiles)
    val snaps = equi.map(t => min_by(col("us"), abs(col("us") - t)))
    val row = cand.agg(snaps.head, snaps.tail: _*).collect()(0)
    val picked = row.toSeq.collect { case l: java.lang.Long => l.longValue }
      .filter(c => c > lo && c <= hi).distinct
    (picked ++ equi.filterNot(picked.contains)).take(nFiles - 1).sorted
  }

  /** Staging cuts that provably split joinable pairs across micro-batches.
    *
    * Equi-width ts cuts are blind to where within-`iv` same-user pairs
    * actually sit: on a sparse corpus (459 pairs over months of span at
    * sf0.01) NO pair straddles them, and the cross-batch buffering claim
    * the st4 harness exists to certify becomes vacuous. Instead, snap each
    * equi-width target to the nearest within-`iv` successor timestamp —
    * cutting AT the successor files its predecessor strictly earlier (file
    * ranges filter `us >= cut`), so every snapped cut splits ≥1 joinable
    * pair across micro-batches by construction (StreamingSpec asserts the
    * spanning count against these exact cuts). Cost: one
    * partitioned-window pass + an (nFiles−1)-value agg collect. Falls back
    * to equi-width on a corpus with no joinable pair at all (mutation
    * tiers), so the harness still runs there. */
  def pairSplitCuts(events: DataFrame, lo: Long, hi: Long,
      nFiles: Int, iv: Long): Seq[Long] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"))
    snapCuts(events.select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag("us", 1).over(w))
      .filter(col("prev").isNotNull && col("us") > col("prev") &&
        col("us") <= col("prev") + iv), lo, hi, nFiles)
  }

  /** Registry query (st4): the stream-stream interval join PRODUCED BY
    * Structured Streaming — [[intervalPairs]] run through the staged
    * AvailableNow harness, certifying the two-sided JOIN STATE STORE
    * (each side buffers rows; a pair is emitted when the second member
    * arrives — possibly micro-batches later — and watermark passage is
    * what makes a buffered row evictable, the bounded-state contract of a
    * production stream-stream join).
    *
    * Why the staged emission is complete (≡ the batch join) for ANY
    * delay ≥ 0: ts-RANGE staged files mean every row of batch j has
    * ts ≥ cut_{j−1} > max ts of batches < j, so when b's batch runs the
    * watermark wm = maxTs(prior) − delay < ts_b − delay ≤ ts_b — b is
    * never late — and for its partner a (ts_a ≥ ts_b − interval),
    * wm < ts_b − delay ≤ ts_a + interval − delay ≤ ts_a + interval — a is
    * still buffered. So the pair emits exactly once and the union over
    * batches is the full batch join, independent of the delay. The
    * harness therefore runs delay = interval (the earliest legal eviction
    * point, r10): buffered state shrinks from delay + interval ≈ 2.5 h to
    * 2×interval = 1 h of traffic behind the frontier — the knob a
    * production deployment with an in-order source (per-key Kafka, file
    * sequences) tunes the same way. An inner stream-stream join emits on
    * match (no watermark-closing wait), so no result rows are parked in
    * state at end-of-stream. */
  def intervalPairsFromStream(s: SparkSession, d: String): DataFrame = Scratch.withTree("graft-st4-") { base =>
    // MICRO-BATCH COUNT scales with same-user probe density, floor 3. The
    // join's probe cost per batch is Σ_u (rows_u in this batch) × (rows_u
    // buffered) — with a handful of giant batches over a months-long span,
    // state holds months of same-user rows and probing is QUADRATIC in
    // batch size (the 100x replicated corpus multiplies per-user density
    // 100x at the same 1500 users: Σn² = 6.8e10, which at 3 batches is
    // >2e10 probes and ran >25 min). A production stream never sees this:
    // frequent triggers + continuous watermark advance keep state at
    // ~delay-window size. The harness mirrors that by cutting batches so
    // each carries ~2e8 probe work: Σn²/B ≤ 2e8 ⇒ B = Σn²/2e8, capped at
    // 48 (3 at every driver fixture tier and the 10x corpus — unchanged
    // behavior there; 48 at the 100x probe). The budget is the measured
    // optimum, not a guess: total cost ≈ B·(commit+shuffle floor) +
    // Σn²/B·(probe rate), and an r10 grid at the 10x corpus (solo warm
    // pairs, delay=interval) read B=3: 20.2 s, B=6: 23.9 s, B=13: 39.7 s
    // — the per-batch floor (~2-3 s at state-volume partition counts)
    // overtakes the probe savings immediately at this tier, so the floor
    // side of the curve, not the probe side, binds until Σn² grows past
    // ~1e10 (the 100x corpus, where the cap takes over anyway). Σn² is
    // one cheap count-agg; decimal sum so ANSI mode can't overflow on a
    // skewed corpus.
    val sumSq = graft.Tables(s, d, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .agg(sum((col("n") * col("n")).cast("decimal(38,0)")))
      .collect()(0).getDecimal(0)
    val nFiles = math.max(3L, math.min(48L,
      Option(sumSq).map(_.longValue / 200000000L).getOrElse(0L))).toInt
    // pair-splitting cuts (pairSplitCuts) make every cut boundary provably
    // split a joinable pair — cross-batch buffering is certified at any B
    val (inDir, nRows) = stageSessionInput(s, d, base, nFiles = nFiles,
      cols = Seq("user_id", "event_id", "ts"),
      pairSplitUs = Some(1800000000L))
    val stream = stagedStream(s, inDir)
    // State-partition right-sizing: a stateful query's store count is
    // pinned at first start from spark.sql.shuffle.partitions, and the
    // join commits 4 stores per partition PER SIDE per micro-batch — at
    // the session default (32) that is 768 store commit cycles for three
    // batches, pure fixed overhead against fixture-scale traffic. Unlike
    // the session rows (state = open sessions), the join BUFFERS BOTH
    // SIDES' full in-watermark row volume, so sizing must scale with
    // traffic: measured at the 10x corpus (1M events), 8 parts = 38.7 s vs
    // 32 parts = 20.6 s warm, while at sf0.1 (100k) 8 parts = 6.2 s vs
    // 32 parts = 14.8 s. A production deployment sizes the same knob to
    // traffic at stream start (state partitioning is a start-time choice);
    // scoped set/restore so batch queries keep the session default.
    // State-store provider: the default HDFS-backed (in-JVM map + delta
    // file) provider wins decisively over RocksDB for this
    // bulk-buffer-then-drain shape — measured 20.0 s vs 64.3 s warm at the
    // 10x corpus (RocksDB pays native write amplification on a state set
    // that lives for only three batches). RocksDB's advantage is state
    // LARGER than executor memory on long-running streams; that regime is
    // a one-conf swap at deployment, not a harness default.
    //
    // Sink: a parquet FILE sink, not the memory sink the session rows use.
    // The join's output is the PAIR population, which grows quadratically
    // in per-user event density (the 100x replicated corpus has 46.4M real
    // pairs — verbatim replication lands the same users in the same 30-min
    // windows); a memory sink would park all of it driver-side, while the
    // file sink streams each micro-batch's emissions straight to disk —
    // the shape a production stream-stream join actually deploys with.
    // st2 cannot do this (session merging requires Complete mode, which
    // file sinks reject); st3/st4 are Append-legal and distributed-sink
    // ready.
    // delay = interval: the earliest-legal-eviction point, complete for
    // the ts-range staged source at ANY delay (see the scaladoc proof)
    val Seq(pairs) = runToFiles(s, statePartitionsFor(s, nRows), base)(
      "pairs" -> injectStChaos(intervalPairs(stream, "30 minutes", delay = "30 minutes")))
    pairs.pin().orderBy("user_id", "id_a", "id_b")
  }

  /** Registry query (st5): ev17's forward-fill PRODUCED BY the
    * arbitrary-keyed-state API — the one streaming state surface
    * (flatMapGroupsWithState) with no other recorded oracle row; st1–st4
    * cover foreachBatch ingest, the session-window store (merge + Append
    * eviction), and the two-sided join store. Custom state is what a
    * production ingest pipeline reaches for when the built-ins can't
    * express its semantics, so it needs driver-grade evidence too.
    *
    * Choreography: the staged time-ordered harness (three ts-range files,
    * one per micro-batch) through [[locfUpdates]] — one carried
    * last-purchase value per user in the state store, every event emitted
    * exactly once with its fill. Within a batch rows fold in (ts_us,
    * event_id) order; across batches the carry continues from stored
    * state; fills are carried VERBATIM (no arithmetic), so the N-batch
    * union is value-identical to the one-shot batch window and the oracle
    * is ev17's SQL unchanged. Output is O(events), so it goes through an
    * Append-mode parquet FILE sink like st4 (a memory sink would park the
    * densified relation driver-side); state is O(users) — commit-dominated
    * like st2/st3, so the same fixed 8 state partitions. */
  def forwardFillFromStream(s: SparkSession, d: String): DataFrame = Scratch.withTree("graft-st5-") { base =>
    val (inDir, _) = stageSessionInput(s, d, base, nFiles = 3,
      cols = Seq("user_id", "event_id", "ts", "event_type", "value"))
    val stream = stagedStream(s, inDir)
    val Seq(fill) = runToFiles(s, 8, base)(
      "fill" -> injectStChaos(locfUpdates(stream)(s).toDF()))
    fill.pin().orderBy("user_id", "ts_us", "event_id")
  }

  /** Registry query (st7): the built-in DEDUP STATE STORE executed —
    * [[streamingDedup]] (`dropDuplicatesWithinWatermark`) run through the
    * staged time-ordered harness, the one built-in stateful operator class
    * (besides the windowed aggregation, see st8) that st1–st6 exercised
    * only in ScalaTest. Production shape: at-least-once ingest keyed by
    * (user, event_type, hour) — "first event per key within a bounded
    * window", duplicate deliveries suppressed by the state store, state
    * evicted once the watermark passes the row's event time + delay.
    *
    * Oracle exactness argument: the dedup key IS the full projected row
    * (user_id, event_type, hour bucket), so every duplicate of a key is
    * IDENTICAL in the output columns and whichever physical row survives —
    * arrival order, partition order, any batch slicing — the emitted
    * relation is exactly DISTINCT(keys). All duplicates of one key sit
    * within 1 h of each other, far under the 2 h watermark delay, so the
    * WithinWatermark guarantee applies and no key can emit twice. The
    * oracle is therefore plain `SELECT DISTINCT`. Staging cuts are snapped
    * by [[keySplitCuts]] so ≥1 key's duplicates provably span micro-batches
    * (equi-width staging was vacuity-prone for the cross-batch claim —
    * st4's lesson); the spec asserts the spanning count and the
    * cross-batch suppression. State is O(distinct in-watermark keys) —
    * commit-dominated at fixture scale, fixed 8 partitions like st2/st3;
    * dedup emits each survivor on arrival, so the sink is an Append-mode
    * parquet FILE sink (the production log shape). */
  def dedupWithinWatermarkFromStream(s: SparkSession, d: String): DataFrame = Scratch.withTree("graft-st7-") { base =>
    val hourKey = Seq(col("user_id"), col("event_type"),
      date_trunc("hour", col("ts")))
    val (inDir, _) = stageSessionInput(s, d, base, nFiles = 3,
      cols = Seq("user_id", "event_type", "ts"), dupKeySplit = Some(hourKey))
    val stream = stagedStream(s, inDir)
    val keyed = stream.withColumn("w_start", date_trunc("hour", col("ts")))
    val Seq(dedup) = runToFiles(s, 8, base)(
      "dedup" -> injectStChaos(streamingDedup(keyed, "ts", "2 hours",
          "user_id", "event_type", "w_start")
        .select("user_id", "event_type", "w_start")))
    // explicit NULLS FIRST: event_type is nullable on the null-events tier
    // and Spark/DuckDB default null orderings differ
    dedup.pin().orderBy(col("user_id"), col("event_type").asc_nulls_first,
      col("w_start"))
  }

  /** Registry query (st8): the WINDOWED-AGGREGATION state store's
    * Append-mode eviction executed — [[tumblingCounts]] through the staged
    * harness, the streaming-aggregation analogue of st3's session-window
    * eviction row: a tumbling window is emitted exactly once, when the
    * watermark passes its end (inclusive close, ms-floored watermark —
    * the same empirically-pinned semantics as st3; the spec re-derives
    * the boundary). Oracle = ev1's batch tumbling SQL restricted to
    * watermark-closed windows, the bounded-state emission a production
    * metrics stream runs on. State is O(open windows) — commit-dominated,
    * fixed 8 partitions. */
  def closedTumblingFromStream(s: SparkSession, d: String): DataFrame = Scratch.withTree("graft-st8-") { base =>
    val (inDir, _) = stageSessionInput(s, d, base, nFiles = 4,
      cols = Seq("event_type", "ts", "value"))
    val stream = stagedStream(s, inDir)
    val Seq(windows) = runToFiles(s, 8, base)(
      "windows" -> injectStChaos(tumblingCounts(stream)))
    windows.pin().orderBy(col("w_start"), col("event_type").asc_nulls_first)
  }

  /** Registry query (st6): dd4's near-dup pair relation with CANDIDATE
    * GENERATION run AT-INGEST — the two arbitrary-state accumulators
    * ([[lshBucketUpdates]], [[sigGroupUpdates]]) executed through real
    * micro-batches, their append logs reconstructed distributively, and the
    * reconstruction exact-verified the same way the batch operator is.
    * st1–st5 cover ingest dedup, the session store (merge + Append
    * eviction), the two-sided join store and scalar custom state; st6
    * closes the last ScalaTest-only streaming surface: at-ingest LSH state
    * whose append log a downstream consumer replays into the batch
    * relation.
    *
    * Choreography: stage documents as three id-RESIDUE slices (deliberately
    * interleaved, NOT ordered chunks — both folds are merge-commutative:
    * bucket membership is a set union, the BucketCap kill is a monotone
    * predicate of final size, and a sig group's canon is a running min, so
    * any batch slicing converges to the batch relation; residue slicing
    * makes the cross-batch fold non-vacuous, since every bucket whose
    * members span id residues spans micro-batches). Both accumulators
    * stream to Append-mode parquet FILE sinks — the log shape a production
    * ingest pipeline persists. Reconstruction is pure relational algebra
    * on the logs, no driver-side state:
    *  - live buckets = keys with no dead snapshot; members = distinct union
    *    over snapshots (membership only grows while a bucket is live);
    *  - bucket pairs = within-bucket id_a < id_b self-join (≡ batch
    *    `capped` join);
    *  - star pairs = per sigkey: distinct logged docIds, canon = min,
    *    groups > 1 → (canon, member) — the O(1)-state group log replayed.
    * Candidates then pass [[graft.operators.Dedup.verifiedJaccard]] — the
    * batch verification, shared — at 0.85, making the output identical to
    * dd4, so the oracle is dd4's full-pipeline SQL VERBATIM (the ss5/ss7
    * shared-oracle pattern). State is bounded like the batch candidate
    * cost: ≤ BucketCap+1 ids per live bucket, a tombstone per dead one,
    * (count, canon) per sig group. */
  def lshPairsFromStream(s: SparkSession, d: String): DataFrame = Scratch.withTree("graft-st6-") { base =>
    val inDir = new java.io.File(base, "in").getPath
    val docs = graft.Tables(s, d, "documents").select("doc_id", "text")
    stageConcurrently((0 until 3).map { i => () =>
      docs.filter(col("doc_id") % 3 === i).coalesce(1).write.parquet(stagedPath(inDir, i))
    })
    restampInOrder(inDir)
    val stream = stagedStream(s, inDir)
    implicit val sp: SparkSession = s
    // state is O(distinct band keys / sig groups) — commit-dominated at
    // fixture scale like the session rows (st2/st3): same fixed 8 parts.
    // The two accumulators are INDEPENDENT streaming queries over the same
    // staged input (separate checkpoints, separate sinks), so they run
    // CONCURRENTLY — exactly how a production ingest deployment fans one
    // source into parallel stateful consumers; the per-batch commit floors
    // overlap instead of adding (sf0.1 warm ~6.9 → ~5.1 s, stress 13.4 → 10.4).
    val Seq(bucketLog, sigLog) = runToFiles(s, 8, base)(
      "buckets" -> lshBucketUpdates(stream).toDF(),
      "sigs" -> sigGroupUpdates(stream).toDF())
    val membership = bucketLog.groupBy("band", "sig")
      .agg(max(col("dead")).as("dead"),
        array_distinct(flatten(collect_list(col("members")))).as("ms"))
      .filter(!col("dead"))
      .select(col("band"), col("sig"), explode(col("ms")).as("doc_id"))
    val bucketPairs = membership.as("x")
      .join(membership.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
    val groups = sigLog.groupBy("sigkey")
      .agg(min(col("docId")).as("id_a"), count_distinct(col("docId")).as("gsz"))
      .filter(col("gsz") > 1)
    val starPairs = sigLog.select(col("sigkey"), col("docId").as("id_b")).distinct()
      .join(groups, "sigkey")
      .filter(col("id_b") =!= col("id_a"))
      .select("id_a", "id_b")
    // small relation (bucket-cap-bounded + linear star); materialize so the
    // verification join starts from stored pairs, exactly like batch dd4
    val cand = bucketPairs.unionByName(starPairs).distinct().pin()
    val result = graft.operators.Dedup.verifiedJaccard(docs, cand)
      .filter(col("jaccard") >= 0.85)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .pin()
    result.orderBy("id_a", "id_b")
  }

  /** Materialize a session memory sink's table as epoch-µs columns, then
    * drop the sink's registered temp view (Complete mode parks the full
    * table driver-side). localCheckpoint is eager, so nothing downstream
    * re-reads it. */
  private def drainMemorySink(s: SparkSession, name: String): DataFrame = {
    val result = s.table(name)
      .select(col("user_id"),
        unix_micros(col("s_start")).as("s_start_us"),
        unix_micros(col("s_end")).as("s_end_us"),
        col("n_events"))
      .pin()
    s.catalog.dropTempView(name)
    result.orderBy("user_id", "s_start_us")
  }

  // Scratch placement note (measured): routing the members' staging trees
  // (Scratch.withTree) to the RAM-backed /dev/shm instead of
  // java.io.tmpdir was A/B'd over the full streaming family at sf0.1 (two
  // fresh-JVM pairs each way: 47.4/44.1 s on /tmp vs 44.6/50.3 s on
  // tmpfs) — no effect outside host noise. That
  // A/B could not see the storage-side cost that did dominate the floor:
  // process creation, not I/O — the default checkpoint manager ran
  // `chmod`/`readlink`/`stat` child processes for every checkpoint file,
  // and Hadoop's local FileSystem a `chmod` for every file it created.
  // runAvailableNow scopes both away (FileSystem-based manager over
  // graft.LocalFs); the staging writes below still fork `chmod` through
  // the session's default FileSystem. The default tmpdir stays (and
  // production checkpoints belong on durable shared storage anyway).
  /** Run independent staging writes concurrently (each is typically a
    * single-task coalesce(1) job — serially they were N sequential
    * single-thread writes, a visible slice of the harness floor at the
    * stress tiers). Bounded shared pool; daemon threads. */
  private def stageConcurrently(writes: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = stagingPool
    writes.map(w => scala.concurrent.Future(w()))
      .foreach(Await.result(_, Duration.Inf))
  }

  private lazy val stagingPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8, (r: Runnable) => {
        val t = new Thread(r, "graft-staging"); t.setDaemon(true); t
      }))

  /** Staged file `i` under `inDir`: zero-padded names keep path order =
    * range order for any file count. */
  private def stagedPath(inDir: String, i: Int): String =
    s"$inDir/" + "c%02d.parquet".formatLocal(java.util.Locale.ROOT, i)

  /** The staged files under `inDir` as one stream, one file per
    * micro-batch, under the first file's schema. FileStreamSource takes
    * them in (mtime, path) order, which [[restampInOrder]] makes range
    * order. */
  private def stagedStream(s: SparkSession, inDir: String): DataFrame =
    s.readStream.schema(Tables.parquetSchema(s, stagedPath(inDir, 0))._1)
      .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*.parquet/*.parquet")

  /** Re-stamp staged files' mtimes in path order with strictly increasing
    * values, AFTER all concurrent writes complete: FileStreamSource orders
    * by (mtime, path), and concurrent writes finish in arbitrary order —
    * the re-stamp restores mtime order = zero-padded path order = range
    * order, so the one-file-per-trigger choreography is exactly what it
    * was under serial staging. Stamps land on the leaf part files (what
    * the source lists) and the directory itself.
    *
    * Batch order is LOAD-BEARING for correctness (st1's first-seen dedup,
    * st2/st3 watermark advance, st4's delay=interval completeness proof all
    * assume ts-range-ordered batches), so a filesystem where the restamp
    * silently fails must fail HERE, not as a watermark-dropped wrong
    * answer downstream: every setLastModified return is checked and read
    * back. Stamps are 2 s apart and 2 s-aligned so even a coarse-mtime
    * filesystem (FAT-class 2 s granularity) stores them exactly. */
  private def restampInOrder(inDir: String): Unit = {
    val dirs = Option(new java.io.File(inDir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = (System.currentTimeMillis() / 2000L) * 2000L
    def stampOrFail(f: java.io.File, stamp: Long): Unit =
      require(f.setLastModified(stamp) && f.lastModified() == stamp,
        s"cannot restamp $f to $stamp (have ${f.lastModified()}) — " +
          "staged batch order is not guaranteed on this filesystem")
    dirs.zipWithIndex.foreach { case (d, i) =>
      val stamp = base + i * 2000L
      stampOrFail(d, stamp)
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(stampOrFail(_, stamp))
    }
  }

  // ---- streaming at-ingest LSH near-dup (twin of Dedup.lshCandidates) ----

  final case class LshBucketState(nSeen: Long, dead: Boolean, members: Seq[Long])
  final case class LshBucketSnapshot(
      band: Int, sig: String, nSeen: Long, dead: Boolean, members: Seq[Long])
  final case class SigGroupState(nSeen: Long, canon: Long)
  final case class SigGroupAssign(sigkey: String, nSeen: Long, docId: Long, canon: Long)

  /** Streaming LSH bucket accumulation — the banded half of dd4 run
    * at-ingest: each arriving document is signed in ONE narrow projection
    * ([[graft.operators.Dedup.minhashSignatures]] — no aggregation state),
    * exploded to its band keys, and folded into bucket-keyed state.
    * Membership is a set union and the BucketCap kill is a monotone
    * predicate of final size, so the fold is MERGE-COMMUTATIVE: any batch
    * slicing converges to the batch bucket relation bit-exactly
    * (StreamingSpec feeds id-sliced, deliberately non-time-ordered
    * batches). Live-bucket state is ≤ BucketCap+1 ids; a dead (over-cap)
    * bucket keeps only a tombstone, so state per bucket is bounded exactly
    * like the batch operator's candidate cost. */
  def lshBucketUpdates(docs: DataFrame)(
      implicit spark: SparkSession): Dataset[LshBucketSnapshot] = {
    import spark.implicits._
    // shared batch signing path (kernel + NULL-text filter): without the
    // filter NULL-text docs would all share a constant signature and pair
    // with each other, a stream-only artifact
    val sigs = Dedup.minhashSignatures(docs)
    Dedup.bandKeys(sigs)
      .select(col("band"), col("sig"), col("doc_id")).as[(Int, String, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[LshBucketState, LshBucketSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((band, sig), rows, state) =>
          val prev = state.getOption.getOrElse(LshBucketState(0L, false, Nil))
          val arrived = rows.map(_._3).toSeq
          val members =
            if (prev.dead) Nil else (prev.members ++ arrived).distinct.sorted
          val dead = prev.dead || members.length > Dedup.BucketCap
          val next = LshBucketState(
            prev.nSeen + arrived.size, dead, if (dead) Nil else members)
          state.update(next)
          Iterator.single(LshBucketSnapshot(band, sig, next.nSeen, dead, next.members))
      }
  }

  /** Full-signature group accumulation — dd4's star-recovery half
    * at-ingest, in the production state shape: per group the store keeps
    * ONLY (count, canonical id) — O(1) regardless of how hot a duplicate
    * group runs — and each arriving document is emitted once as a
    * (doc → current canon) assignment. The group's batch pair set is
    * (min member, every other member), a function of final membership
    * alone; membership is exactly the set of emitted docIds (each doc
    * arrives once), so a consumer reconstructs the batch relation
    * bit-exactly from the append log: members = distinct docIds per
    * sigkey, canon = min. A late-arriving smaller id appears as an
    * assignment that itself becomes the new canon; the min rule downstream
    * re-points earlier members without any re-emission, which is why no
    * member list ever needs to live in state. */
  def sigGroupUpdates(docs: DataFrame)(
      implicit spark: SparkSession): Dataset[SigGroupAssign] = {
    import spark.implicits._
    val sigs = Dedup.minhashSignatures(docs) // ≡ batch (see lshBucketUpdates)
    sigs.select(
      Dedup.sigKeyColumn.as("sigkey"),
      col("doc_id")).as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SigGroupState, SigGroupAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sigkey: String, rows: Iterator[(String, Long)], state: GroupState[SigGroupState]) =>
          val prev = state.getOption.getOrElse(SigGroupState(0L, Long.MaxValue))
          val arrived = rows.map(_._2).toSeq
          val canon = (prev.canon +: arrived).min
          state.update(SigGroupState(prev.nSeen + arrived.size, canon))
          arrived.zipWithIndex.iterator.map { case (id, i) =>
            SigGroupAssign(sigkey, prev.nSeen + i + 1, id, canon)
          }
      }
  }

  /** In-micro-batch chaos tier (`SPARK_GRAFT_ST_CHAOS`, r12): fail the
    * FIRST attempt of every third task of a streaming query's STATEFUL
    * stage, AFTER pulling rows through the stateful operator — the task
    * dies with state-store updates applied but the store commit still in
    * flight, so Spark must abort that store version and replay the
    * partition from the last committed version on the retry. This is the
    * state-store recovery surface the batch chaos tier (source-scan
    * throws, `Tables.injectChaos`) and the between-batch checkpoint
    * restart spec bracket but never hit. The wrapper sits downstream of
    * the stateful operator and upstream of the sink — no shuffle between
    * them, so it shares the stateful task. Requires a retry-tolerant
    * master (Verify sets `spark.task.maxFailures=3` / rewrites `local[N]`
    * whenever the env is set). Tier-only: the wrapper is an object
    * boundary, never in the benchmarked path. Applied to the five
    * built-in-state rows (st2 session-merge, st3 session-evict, st4
    * stream-stream join, st7 watermark dedup, st8 window-evict) and to
    * st5 — the arbitrary-state provider (flatMapGroupsWithState), where
    * the mid-batch kill additionally lands with a parquet FILE sink in
    * flight, so the retry exercises both the custom-state replay and the
    * file-sink commit protocol discarding the failed attempt's file;
    * st1/st6 recover via the foreachBatch/file-log idempotence their own
    * specs pin. */
  private lazy val stChaosEnabled: Boolean =
    sys.env.contains("SPARK_GRAFT_ST_CHAOS")

  private def injectStChaos(df: DataFrame): DataFrame =
    if (!stChaosEnabled) df
    else df.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() % 3 == 0) {
        // pull real rows through the stateful operator first: a throw
        // before the first next() would kill the task before it touched
        // the store, proving only the scan-retry path chaos already covers
        var pulled = 0
        while (it.hasNext && pulled < 7) { it.next(); pulled += 1 }
        throw new RuntimeException(
          "graft-chaos: injected mid-commit stateful failure (partition " +
            s"${tc.partitionId()}, after $pulled rows)")
      } else it
    }(org.apache.spark.sql.Encoders.row(df.schema))

  /** Run any of the above to a named in-memory table and process all
    * currently-available input (the local smoke harness; production would
    * use a real sink + trigger). The output mode is caller-supplied because
    * each operator admits different modes: tumblingCounts works in
    * Update/Append, sessionWindows requires Complete (session merging
    * rewrites past windows), locfUpdates declares Append — there is
    * no default valid for all three. `partitions` scopes the state
    * partition count (see [[runAvailableNow]]). */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode,
      partitions: Option[Int] = None): StreamingQuery =
    runAvailableNow(df.sparkSession, partitions)(Seq(
      df.writeStream.outputMode(mode).format("memory").queryName(name))).head
}
