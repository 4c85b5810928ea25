package graft.sinks

import java.io.File
import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.execution.SQLExecution

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
  * Spark-side each format is a Spark source name plus writer options, one
  * table that both sinks read; the parity options that differ from Spark
  * defaults are CSV `header=true` and JSON `ignoreNullFields=false` (Spark
  * drops null fields from NDJSON output by default; the reference keeps
  * them).
  */
object Sinks {

  sealed abstract class Format(val name: String, val options: Map[String, String])
  case object Parquet extends Format("parquet", Map.empty)
  case object Csv extends Format("csv", Map("header" -> "true"))
  case object Json extends Format("json", Map("ignoreNullFields" -> "false"))
  /** Bonus over the reference (roadmap-only there, README.md:29). */
  case object Orc extends Format("orc", Map.empty)
  /** Raw-corpus bonus: one text line per row (requires a single string
    * column, Spark's `text` writer contract). */
  case object Text extends Format("text", Map.empty)

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

  private def writer(df: DataFrame, format: Format) =
    df.write.mode("overwrite").format(format.name).options(format.options)

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

  /** Reference-parity sink: exactly one output file at `path`, written
    * with no write job.
    *
    * The query runs as `Dataset.collect` runs it: at its own parallelism,
    * AQE intact, with Spark's driver-side top-k merge, and rows come back
    * in partition order (an `ORDER BY` result stays ordered). The driver
    * then opens one `OutputWriter` from the format's own V1 `FileFormat`,
    * writes every row into `<path>.tmp-spark-write/part-00000` and moves
    * that file to `path`. Spark's pre-write schema checks and the format's
    * `prepareWrite` run before the query, so a schema the format cannot
    * hold fails with the error `writeDir` raises, and runs no job.
    *
    * Limit: the whole result passes through the driver, so it is bounded by
    * Spark's `spark.driver.maxResultSize` (default 1g of serialized rows),
    * as `collect` is; a larger result fails with Spark's error. `writeDir`
    * is the path for results of that size. The writer opens only after the
    * query returns; whatever fails, no output file is left, the temp
    * directory is removed and the original exception surfaces.
    */
  def writeSingleFile(df: DataFrame, path: String): Unit = {
    val format = fromPath(path)
    val spark = df.sparkSession
    val fileFormat = GraftShim.writeFormat(spark, format.name, df.schema)
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(format.options))
    val factory = fileFormat.prepareWrite(spark, job, format.options, df.schema)
    val tmp = new File(path + ".tmp-spark-write")
    try {
      val qe = df.queryExecution
      val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
      // the ids FileFormatWriter gives a write task's attempt context
      val attempt = new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)
      val conf = job.getConfiguration
      conf.set("mapreduce.job.id", attempt.getJobID.toString)
      conf.set("mapreduce.task.id", attempt.getTaskID.toString)
      conf.set("mapreduce.task.attempt.id", attempt.toString)
      conf.setBoolean("mapreduce.task.ismap", true)
      conf.setInt("mapreduce.task.partition", 0)
      Scratch.delete(tmp) // a crashed export's leftover
      tmp.mkdirs()
      val part = new File(tmp, "part-00000")
      val out = factory.newInstance(part.getPath, df.schema, new TaskAttemptContextImpl(conf, attempt))
      try rows.foreach(out.write) finally out.close()
      JFiles.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    } finally Scratch.delete(tmp)
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
    // the original data is deleted only once the new layout is in place
    Scratch.swapIn(new File(tmp), new File(dir))
    nOut
  }
}
