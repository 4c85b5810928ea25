package graft.streaming

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

import graft.{Scratch, Tables}
import graft.Ckpt.PinOps

/** The harness every streaming row (st1–st8) runs in: a private scratch
  * tree, the staging of the row's input as ordered files under it, the
  * sinks the row runs to, and the pin of its result.
  *
  * [[Member.run]] owns the tree. It pins whatever the row's body returns
  * BEFORE the tree is deleted, so no row can hand back a frame that still
  * reads its deleted files, and then drops every memory-sink view the body
  * registered (Complete mode parks the whole table driver-side). A row
  * returns its result unpinned and orders it after the harness returns. */
private[graft] final class Member private (val spark: SparkSession, code: String, tree: File) {

  private val views = mutable.ArrayBuffer.empty[String]

  /** `name` under this member's tree. */
  def path(name: String): String = new File(tree, name).getPath

  /** Stage `rows` as one parquet file per slice under this member's tree
    * and return the files as one stream, one file per micro-batch, in
    * slice order. The slice writes run concurrently (each is a single-task
    * `coalesce(1)` job; serially they were N sequential single-thread
    * writes, a visible slice of the harness floor at the stress tiers), so
    * order is not left to write completion: [[Member.restampInOrder]]
    * re-stamps the files in slice order once all of them are written. */
  def stage(rows: DataFrame, slices: Seq[Column]): DataFrame = {
    val inDir = path("in")
    Member.stageConcurrently(slices.zipWithIndex.map { case (slice, i) => () =>
      rows.filter(slice).coalesce(1).write.parquet(Member.stagedPath(inDir, i))
    })
    Member.restampInOrder(inDir)
    Member.stagedStream(spark, inDir)
  }

  /** [[StreamingOps.runToFiles]] under this member's tree. */
  def toFiles(partitions: Int)(sinks: (String, DataFrame)*): Seq[DataFrame] =
    StreamingOps.runToFiles(spark, partitions, tree)(sinks: _*)

  /** Run `df` to a memory sink ([[StreamingOps.runToMemory]]) and return
    * the sink's table; [[Member.run]] drops its view after the pin. The
    * name is unique: a row can run twice in one JVM (Bench's re-time), and
    * a memory sink's name cannot be registered again while its view lives. */
  def toMemory(df: DataFrame, mode: OutputMode, partitions: Int): DataFrame = {
    val name = s"${code}_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    views += name
    StreamingOps.runToMemory(df, name, mode, Some(partitions))
    spark.table(name)
  }
}

private[graft] object Member {

  /** Run streaming row `code`'s `body` on a fresh tree and return its
    * result pinned; the tree is deleted when this returns or throws. */
  def run(s: SparkSession, code: String)(body: Member => DataFrame): DataFrame =
    Scratch.withTree(s"graft-$code-") { tree =>
      val m = new Member(s, code, tree)
      try body(m).pin() finally m.views.foreach(s.catalog.dropTempView)
    }

  /** The half-open ranges of `key` from `lo` to `hi` (inclusive) split at
    * the ascending `cuts`. */
  def ranges(key: Column, lo: Long, hi: Long, cuts: Seq[Long]): Seq[Column] = {
    val bounds = (lo +: cuts) :+ (hi + 1)
    bounds.init.zip(bounds.tail).map { case (from, until) => key >= from && key < until }
  }

  // Scratch placement note (measured): routing the members' trees to the
  // RAM-backed /dev/shm instead of java.io.tmpdir was A/B'd over the full
  // streaming family at sf0.1 (two fresh-JVM pairs each way: 47.4/44.1 s
  // on /tmp vs 44.6/50.3 s on tmpfs) — no effect outside host noise. That
  // A/B could not see the storage-side cost that did dominate the floor:
  // process creation, not I/O — the default checkpoint manager ran
  // `chmod`/`readlink`/`stat` child processes for every checkpoint file,
  // and Hadoop's local FileSystem a `chmod` for every file it created.
  // runAvailableNow scopes both away (FileSystem-based manager over
  // graft.LocalFs); the staging writes still fork `chmod` through the
  // session's default FileSystem. The default tmpdir stays (and
  // production checkpoints belong on durable shared storage anyway).
  /** Run independent staging writes concurrently on a bounded shared pool
    * of daemon threads. */
  private def stageConcurrently(writes: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = stagingPool
    writes.map(w => Future(w())).foreach(Await.result(_, Duration.Inf))
  }

  private lazy val stagingPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8, (r: Runnable) => {
        val t = new Thread(r, "graft-staging"); t.setDaemon(true); t
      }))

  /** Staged file `i` under `inDir`: zero-padded names keep path order =
    * slice order for any file count. */
  private def stagedPath(inDir: String, i: Int): String =
    s"$inDir/" + "c%02d.parquet".formatLocal(java.util.Locale.ROOT, i)

  /** The staged files under `inDir` as one stream, one file per
    * micro-batch, under the first file's schema. FileStreamSource takes
    * them in (mtime, path) order, which [[restampInOrder]] makes slice
    * order. */
  private def stagedStream(s: SparkSession, inDir: String): DataFrame =
    s.readStream.schema(Tables.parquetSchema(s, stagedPath(inDir, 0))._1)
      .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*.parquet/*.parquet")

  /** Re-stamp staged files' mtimes in path order with strictly increasing
    * values, AFTER all concurrent writes complete: FileStreamSource orders
    * by (mtime, path), and concurrent writes finish in arbitrary order —
    * the re-stamp restores mtime order = zero-padded path order = slice
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
    val dirs = Option(new File(inDir).listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = (System.currentTimeMillis() / 2000L) * 2000L
    def stampOrFail(f: File, stamp: Long): Unit =
      require(f.setLastModified(stamp) && f.lastModified() == stamp,
        s"cannot restamp $f to $stamp (have ${f.lastModified()}) — " +
          "staged batch order is not guaranteed on this filesystem")
    dirs.zipWithIndex.foreach { case (d, i) =>
      val stamp = base + i * 2000L
      stampOrFail(d, stamp)
      Option(d.listFiles()).getOrElse(Array.empty[File]).foreach(stampOrFail(_, stamp))
    }
  }
}
