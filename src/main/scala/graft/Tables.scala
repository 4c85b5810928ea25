package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Table-file access: the test corpus (one parquet file per table under a
  * scale-factor directory, see TESTDATA.md) and, through [[Tables.read]],
  * every table the engine's file sources register. Parquet is self-describing,
  * so unlike the reference's per-backend schema mapping
  * (reference src/db/conversion.rs:1-68) no type plumbing is needed here —
  * Spark's parquet reader supplies the schema and pushes filters/pruning
  * into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read-path confs absorbing the testdata's parquet timestamp-annotation
    * drift, set before every read (runtime-settable, so they also work on a
    * driver-owned session):
    *
    *  - Spark 4 refuses parquet TIMESTAMP(NANOS) columns outright
    *    ([PARQUET_TYPE_ILLEGAL]); with the legacy `nanosAsLong` conf they
    *    read as raw nanosecond longs instead, which [[normalizeTimestamps]]
    *    rebuilds into a µs timestamp.
    *  - `inferTimestampNTZ.enabled=false` makes unannotated
    *    TIMESTAMP(MICROS) (isAdjustedToUTC=false) columns read as plain
    *    TIMESTAMP at the SCAN — the stored wall-clock micros become the
    *    instant's micros, exactly the treat-wall-clock-as-UTC semantics of
    *    [[normalizeTimestamps]]'s NTZ rewrite, but with a bare column
    *    instead of a derived expression. That keeps predicate pushdown
    *    alive: a filter on a `timestamp_micros(timestampdiff(...))`
    *    rewrite reaches the parquet scan as IsNotNull only, while a filter
    *    on the bare column pushes the comparison itself
    *    (ScaleSpec's q01 PushedFilters assert is the canary). The NTZ
    *    branch of [[normalizeTimestamps]] stays as the fallback for
    *    sessions whose conf is pinned. */
  def ensureNanosReadable(spark: SparkSession): Unit = {
    // AnalysisException = conf rejected/pinned by this session. Warn ONCE:
    // correctness survives via normalizeTimestamps' NTZ fallback, but the
    // pushdown restoration is silently lost otherwise — a session where
    // these confs don't stick must be diagnosable (ScaleSpec's canary only
    // runs in CI).
    def trySet(key: String, value: String): Unit =
      try spark.conf.set(key, value)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          if (warnedConfs.add(key))
            System.err.println(s"[graft] conf $key=$value rejected (${e.getMessage.takeWhile(_ != '\n')}); " +
              "timestamp reads fall back to the NTZ rewrite, losing parquet pushdown")
      }
    trySet("spark.sql.legacy.parquet.nanosAsLong", "true")
    trySet("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  }

  private val warnedConfs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, "parquet", s"$dir/$name.parquet")

  /** Read one table file (or partitioned table directory) at `path`: the one
    * table read, behind both [[apply]] and the engine's view registration
    * (`Source.Files.registerViews`). It sets the read confs
    * ([[ensureNanosReadable]]), loads the path (csv with a header row and
    * inferred types, the csv sink's layout), rebuilds timestamps
    * ([[normalizeTimestamps]]) and, in the chaos tier, fails first task
    * attempts ([[injectChaos]]; an identity otherwise). */
  def read(spark: SparkSession, format: String, path: String): DataFrame = {
    ensureNanosReadable(spark)
    val reader = format match {
      case "csv" => spark.read.option("header", "true").option("inferSchema", "true")
      case _     => spark.read
    }
    val df = reader.format(format).load(path)
    val nanos = if (format == "parquet") nanosColumns(spark, df) else Set.empty[String]
    injectChaos(normalizeTimestamps(df, nanos))
  }

  /** The top-level columns of a parquet read that its footer types
    * TIMESTAMP(NANOS) — the columns `nanosAsLong` reads as plain longs.
    * Only that footer annotation tells such a column from a BIGINT, so it is
    * read (from the first input file, driver-side, no Spark job) only when
    * the schema has a long column at all. */
  private[graft] def nanosColumns(spark: SparkSession, df: DataFrame): Set[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import scala.jdk.CollectionConverters._
    if (!df.schema.exists(_.dataType == LongType)) Set.empty
    else df.inputFiles.headOption.fold(Set.empty[String]) { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf()))
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.filter {
        _.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        }
      }.map(_.getName).toSet
      finally reader.close()
    }
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
    *  - TIMESTAMP(NANOS) (read as raw longs under the legacy conf above):
    *    each column in `nanos` ([[nanosColumns]]) is rebuilt into a µs
    *    timestamp; the ns → µs truncation is exactly what DuckDB does
    *    reading the same file. Any other long column — a BIGINT `ts` in a
    *    json file or an unannotated parquet INT64 — stays a long.
    *  - Unannotated TIMESTAMP(MICROS) (isAdjustedToUTC=false), which Spark 4
    *    infers as TIMESTAMP_NTZ: converted to TIMESTAMP by treating the wall
    *    clock as UTC. `timestampdiff` from the NTZ epoch is
    *    session-timezone-independent (a bare cast is NOT — it reads the
    *    session zone), so a driver-owned session in any local timezone sees
    *    the same micros. DuckDB reads the same column as a naive timestamp
    *    whose epoch_us equals exactly these micros, so oracle comparisons
    *    are unaffected by the annotation drift.
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
