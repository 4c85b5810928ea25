package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.Sinks
import graft.sources.Source

/** The reference-shaped engine entry: `source URL → SQL → one output file`.
  *
  * Mirrors SQL2ALL's whole lifecycle (reference src/main.rs:24-31:
  * parse args → `Database::from_str(url)` → `db.query(sql, output)`), with
  * Spark supplying the relational algebra the reference delegates to its
  * backend database (reference src/lib.rs:37-43) and the executor fleet
  * supplying the parallelism the reference lacks (single connection + single
  * writer task, src/db/mysql.rs:85-105).
  */
object Engine {

  /** Make the engine's SQL surface self-contained on any session: register
    * the `float_vector_dot` function, inject the HOF→kernel optimizer rule
    * and prepend the [[graft.plans.StableLiterals]] planner strategy,
    * exactly what `spark.sql.extensions=graft.plans.GraftExtensions` does
    * at session build time. Idempotent, so safe per query. All three stay
    * installed on the caller's session, so whatever moves one of them
    * (say, resolving queries on a clone of the session) moves all three;
    * no conf selects them. A `FilterExec` the strategy plans carries
    * graft's `ParamLiteral`, so an interpreted filter needs graft's
    * classes on the executors, as the kernels already do. */
  private def ensureExtensions(spark: SparkSession): Unit = {
    graft.functions.VectorFunctions.registerSql(spark)
    val x = spark.experimental
    if (!x.extraOptimizations.contains(graft.plans.RewriteVectorDot))
      x.extraOptimizations = x.extraOptimizations :+ graft.plans.RewriteVectorDot
    if (!x.extraStrategies.contains(graft.plans.StableLiterals))
      x.extraStrategies = graft.plans.StableLiterals +: x.extraStrategies
  }

  /** Run `sql` against the source identified by `sourceUrl` and return the
    * (lazy) result. Catalyst parses/analyzes/optimizes; nothing is executed
    * until an action or sink call.
    */
  def query(spark: SparkSession, sourceUrl: String, sql: String): DataFrame = {
    ensureExtensions(spark)
    Source.fromUrl(sourceUrl).load(spark, sql)
  }

  /** Full export: query → extension-dispatched sink, one output file
    * (reference parity: src/main.rs:17 expects a single named file).
    */
  def export(spark: SparkSession, sourceUrl: String, sql: String, output: String): Unit =
    Sinks.writeSingleFile(query(spark, sourceUrl, sql), output)

  /** Scale-path export: directory of part-files, fully parallel write.
    * `partitionBy` lays the output out as key=value directories, which the
    * file-source schemes register back as partition-pruned tables — the
    * write-side half of the partitioned-table round trip. */
  def exportDir(spark: SparkSession, sourceUrl: String, sql: String,
      output: String, format: String, partitionBy: Seq[String] = Nil): Unit =
    Sinks.writeDir(query(spark, sourceUrl, sql), output,
      Sinks.fromPath("x." + format), partitionBy)

  /** Table maintenance on a previously-exported parquet directory: rewrite
    * its accumulated small part-files into `ceil(bytes/target)` files (see
    * [[Sinks.compactDir]]). Returns the new file count. */
  def compact(spark: SparkSession, dir: String, targetFileBytes: Long = 128L << 20): Int =
    Sinks.compactDir(spark.read.parquet(dir), dir, targetFileBytes)
}
