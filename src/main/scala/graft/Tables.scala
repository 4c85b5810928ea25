package graft

import scala.jdk.CollectionConverters._

import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Table-file access: the test corpus (one parquet file per table under a
  * scale-factor directory, see TESTDATA.md) and, through [[Tables.read]],
  * every table the engine's file sources register. Parquet is self-describing,
  * so unlike the reference's per-backend schema mapping
  * (reference src/db/conversion.rs:1-68) no type plumbing is needed here —
  * one driver-side footer read ([[parquetSchema]]) types the table, and
  * Spark's parquet reader pushes filters/pruning into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, "parquet", s"$dir/$name.parquet")

  /** Read one table file (or partitioned table directory) at `path`: the one
    * table read, behind both [[apply]] and the engine's view registration
    * (`Source.Files.registerViews`). A parquet table is read under its
    * footer schema ([[parquetSchema]]), so no schema-inference job runs;
    * csv is read with a header row and inferred types (the csv sink's
    * layout), other formats with Spark's inference. Then timestamps are
    * rebuilt ([[normalizeTimestamps]]) and, in the chaos tier, first task
    * attempts fail ([[injectChaos]]; an identity otherwise). */
  def read(spark: SparkSession, format: String, path: String): DataFrame = {
    val (df, nanos) = format match {
      case "parquet" =>
        val (schema, nanos) = parquetSchema(spark, path)
        (spark.read.schema(schema).parquet(path), nanos)
      case "csv" =>
        (spark.read.option("header", "true").option("inferSchema", "true").csv(path), Set.empty[String])
      case _ => (spark.read.format(format).load(path), Set.empty[String])
    }
    injectChaos(normalizeTimestamps(df, nanos))
  }

  /** The Spark schema of the parquet table at `path` and its top-level
    * columns the footer types TIMESTAMP(NANOS), from one driver-side footer
    * read: no Spark job, where Spark's own inference runs one per read.
    *
    * The footer is the one that inference reads with `mergeSchema` off
    * (`ParquetUtils.inferSchema`): `_common_metadata`, else `_metadata`,
    * else the first data file in path order, among the files Spark's own
    * listing keeps (hidden names skipped; `key=value` partition columns
    * are left to the reader's partition discovery). Missing paths, corrupt
    * footers and data-less directories raise Spark's own errors.
    *
    * The schema is converted as inference would convert it on a clone of
    * the session's SQL conf that reads TIMESTAMP(NANOS) as a long
    * (`nanosAsLong`, which [[normalizeTimestamps]] rebuilds into a µs
    * timestamp; Spark 4 refuses the column otherwise) and unannotated
    * TIMESTAMP(MICROS) (isAdjustedToUTC=false) as plain TIMESTAMP
    * (`inferTimestampNTZ` off: the stored wall-clock micros become the
    * instant's micros, the treat-wall-clock-as-UTC semantics of
    * [[normalizeTimestamps]]' NTZ rewrite, but as a bare column, so
    * comparisons on it still push into the scan — ScaleSpec's q01
    * PushedFilters assert is the canary). A reader given a schema needs
    * neither conf, so the caller's session keeps its own values. */
  def parquetSchema(spark: SparkSession, path: String): (StructType, Set[String]) = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val leaves = new InMemoryFileIndex(spark, GraftShim.readRoots(path, hadoopConf), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    val file = summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
      .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    val footer = try new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
    catch { case e: RuntimeException => throw GraftShim.footerError(file.getPath, e) }
    val conf = spark.sessionState.conf.clone()
    conf.setConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
    conf.setConf(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, false)
    val schema = ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(conf))
    val nanos = footer.getParquetMetadata.getFileMetaData.getSchema.getFields.asScala.filter {
      _.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      }
    }.map(_.getName).toSet
    (schema, nanos)
  }

  /** Chaos-injection mode (`SPARK_GRAFT_CHAOS` set): every FIRST attempt
    * of every fifth scan-stage task over a corpus table throws, so the
    * task re-runs — the executed twin of the plan-level determinism
    * invariant (PlanAudit `nondeterministic_exprs`). At 1000 executors
    * task retries are routine, and "retry-safe" claimed from a static
    * expression sweep is weaker than "the whole registry ran with ~20% of
    * its source tasks KILLED ONCE and still hash-matched the oracle".
    * The wrapper deliberately costs plan shape (an object boundary blocks
    * column pruning/pushdown below it), which is why it is a correctness
    * TIER, never the benchmarked path; requires a retry-tolerant master
    * (`local[N,3]` — Verify switches automatically when the env is set). */
  private lazy val chaosEnabled: Boolean = sys.env.contains("SPARK_GRAFT_CHAOS")

  private def injectChaos(df: DataFrame): DataFrame =
    if (!chaosEnabled) df
    else df.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && tc.partitionId() % 5 == 0)
        throw new RuntimeException(
          s"graft-chaos: injected first-attempt failure (partition ${tc.partitionId()})")
      it
    }(org.apache.spark.sql.Encoders.row(df.schema))

  /** Normalize timestamp representation drift across testdata generations —
    * the corpus has been regenerated with three different parquet encodings
    * so far, and every operator expects one type: TIMESTAMP in µs.
    *
    *  - TIMESTAMP(NANOS), which [[parquetSchema]] types as a raw
    *    nanosecond long: each column in `nanos` is rebuilt into a µs
    *    timestamp; the ns → µs truncation is exactly what DuckDB does
    *    reading the same file. Any other long column — a BIGINT `ts` in a
    *    json file or an unannotated parquet INT64 — stays a long.
    *  - TIMESTAMP_NTZ: a Spark-written NTZ column (its footer's Spark schema
    *    types it NTZ whatever the conversion confs) or an NTZ column of
    *    another format. Converted to TIMESTAMP by treating the wall clock as
    *    UTC. `timestampdiff` from the NTZ epoch is
    *    session-timezone-independent (a bare cast is NOT — it reads the
    *    session zone), so a driver-owned session in any local timezone sees
    *    the same micros. DuckDB reads the same column as a naive timestamp
    *    whose epoch_us equals exactly these micros, so oracle comparisons
    *    are unaffected by the annotation drift. (Unannotated
    *    TIMESTAMP(MICROS) never gets here: [[parquetSchema]] types it
    *    TIMESTAMP at the scan, with the same semantics.)
    *
    * Applied by [[read]] and by the streaming event reader, so timestamps
    * have one type everywhere. */
  def normalizeTimestamps(df: DataFrame, nanos: Set[String]): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case LongType if nanos.contains(f.name) =>
          acc.withColumn(f.name, expr(s"timestamp_micros(`${f.name}` DIV 1000)"))
        case TimestampNTZType =>
          acc.withColumn(f.name, expr(
            s"timestamp_micros(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `${f.name}`))"))
        case _ => acc
      }
    }
}
