package graft.sinks

import java.io.File
import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame

import graft.Scratch

/** Output-format dispatch and sinks.
  *
  * The reference lowercases the output path, splits on '.', and picks the
  * format from the last segment (reference src/lib.rs:76-90); the three
  * working sinks are parquet (src/lib.rs:102-113), CSV with headers on
  * (src/lib.rs:114-123) and newline-delimited JSON with explicit nulls kept
  * (src/lib.rs:124-137, `with_explicit_nulls(true)` at :127). An Arrow IPC
  * variant exists but panics unimplemented (src/lib.rs:73,138).
  *
  * Spark-side each format is a `DataFrameWriter` configuration; the parity
  * options that differ from Spark defaults are CSV `header=true` and JSON
  * `ignoreNullFields=false` (Spark drops null fields from NDJSON output by
  * default; the reference keeps them).
  */
object Sinks {

  sealed abstract class Format(val name: String)
  case object Parquet extends Format("parquet")
  case object Csv extends Format("csv")
  case object Json extends Format("json")
  /** Bonus over the reference (roadmap-only there, README.md:29). */
  case object Orc extends Format("orc")
  /** Raw-corpus bonus: one text line per row (requires a single string
    * column, Spark's `text` writer contract). */
  case object Text extends Format("text")

  /** Extension → format: lowercase whole path, last '.'-segment
    * (reference src/lib.rs:80-81). */
  def fromPath(path: String): Format =
    path.toLowerCase(java.util.Locale.ROOT).split('.').lastOption match {
      case Some("parquet") => Parquet
      case Some("csv")     => Csv
      // .jsonl is the conventional extension for exactly what the json
      // sink already writes (NDJSON, reference src/lib.rs:128)
      case Some("json") | Some("jsonl") => Json
      case Some("orc")     => Orc
      case Some("txt")     => Text
      case Some("arrow")   => throw new UnsupportedOperationException(
        "arrow sink is unimplemented (parity with reference src/lib.rs:138)")
      case other => throw new IllegalArgumentException(
        s"Unsupported output format '${other.getOrElse("")}' for path: $path")
    }

  private def writer(df: DataFrame, format: Format) = {
    val w = df.write.mode("overwrite")
    format match {
      case Parquet => w.format("parquet")
      case Orc     => w.format("orc")
      case Csv     => w.format("csv").option("header", "true")
      case Json    => w.format("json").option("ignoreNullFields", "false")
      case Text    => w.format("text")
    }
  }

  /** Scale path: write a directory of part-files, fully parallel — every
    * executor streams its partitions to the committer. This is what a 100 TB
    * export should use; `writeSingleFile` below exists only for
    * reference-parity ("one named output file", reference src/main.rs:17).
    */
  def writeDir(df: DataFrame, path: String, format: Format,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = writer(df, format)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).save(path)
  }

  /** Reference-parity sink: exactly one output file at `path`.
    *
    * Spark always writes a directory of part-files, so this coalesces to a
    * single partition (serializing the final write — documented tradeoff,
    * SURVEY.md §7.4.1), writes to a temp dir, and promotes the lone
    * part-file to the requested name. The temp dir is removed whether or
    * not the write succeeds; a failed write leaves no output file and
    * surfaces its own exception.
    */
  def writeSingleFile(df: DataFrame, path: String): Unit = {
    val format = fromPath(path)
    val tmp = path + ".tmp-spark-write"
    try {
      writer(df.coalesce(1), format).save(tmp)
      val part = Option(new File(tmp).listFiles()).getOrElse(Array.empty[File])
        .find(f => f.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no part-file produced under $tmp"))
      JFiles.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    } finally Scratch.delete(new File(tmp))
  }

  /** Small-file compaction — the table-maintenance pass every long-lived
    * 100 TB dataset needs: streaming ingest and fine-grained partitioned
    * writes accumulate part-files far below the ideal scan unit, and scan
    * cost degrades with per-file open/footer overhead long before data
    * volume grows. Rewrites `dir` into `ceil(bytes / targetFileBytes)`
    * part-files of roughly equal size.
    *
    * The size probe is driver-side FILE METADATA (no data read); the
    * rewrite is one narrow round-robin repartition — no shuffle key, no
    * skew sensitivity, fully parallel write. Returns the new file count.
    * The atomic swap (write aside, then move) mirrors what a table format's
    * commit would do; readers of the old listing are not torn because the
    * move is directory-level. */
  def compactDir(df: DataFrame, dir: String, targetFileBytes: Long = 128L << 20): Int = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    require(files.nonEmpty, s"no part-files to compact under $dir")
    val totalBytes = files.map(_.length()).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val tmp = dir + ".tmp-compact"
    df.repartition(nOut).write.mode("overwrite").format("parquet").save(tmp)
    val staging = new File(tmp)
    val target = new File(dir)
    // Recoverable swap: the original data is never deleted before the new
    // layout is in place — park it aside, move staging in, then drop it.
    // A crash leaves either the original dir or the parked copy on disk.
    val parked = new File(dir + ".tmp-old")
    Scratch.delete(parked) // stale leftover from a previous crash
    if (!target.renameTo(parked))
      throw new IllegalStateException(s"compaction could not park $dir")
    if (!staging.renameTo(target)) {
      parked.renameTo(target) // roll back
      throw new IllegalStateException(s"compaction swap failed for $dir")
    }
    Scratch.delete(parked)
    nOut
  }
}
