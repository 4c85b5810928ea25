package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, FileFormat}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** Bridge into Spark 4's sql-private helpers:
  *  - the Column ↔ Expression conversions
  *    (`org.apache.spark.sql.classic.ExpressionUtils` is `private[sql]`),
  *    the standard pattern for libraries that ship custom Catalyst
  *    expressions without going through the function registry;
  *  - the file-source read path's own path check and footer error, so
  *    `graft.Tables.parquetSchema` fails exactly as Spark's read would;
  *  - the file-source write path's format lookup and schema checks, so
  *    `graft.sinks.Sinks.writeSingleFile` fails exactly as Spark's write
  *    would.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `path` globbed and checked as `spark.read` does: a missing path raises
    * `PATH_NOT_FOUND`. */
  def readRoots(path: String, conf: Configuration): Seq[Path] =
    DataSource.checkAndGlobPathIfNecessary(Seq(path), conf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)

  /** Spark's `CANNOT_READ_FILE_FOOTER` error for `file`. */
  def footerError(file: Path, e: Exception): Throwable =
    QueryExecutionErrors.cannotReadFooterForFileError(file, e)

  /** The V1 `FileFormat` that `DataFrameWriter.save` resolves for `name`
    * (ORC under `spark.sql.orc.impl` included), after `schema` passed the
    * checks a file write runs before its query does, with Spark's errors:
    * `DataSource.planForWriting`'s, `InsertIntoHadoopFsRelationCommand`'s
    * and `FileFormatWriter`'s. */
  def writeFormat(spark: SparkSession, name: String, schema: StructType): FileFormat = {
    val format = DataSource(spark, name).providingClass.getConstructor().newInstance()
      .asInstanceOf[FileFormat]
    val conf = spark.sessionState.conf
    DataSource.validateSchema(format.toString, schema, conf)
    SchemaUtils.checkColumnNameDuplication(schema.fieldNames.toSeq, conf.caseSensitiveAnalysis)
    SchemaUtils.checkNoCollationsInMapKeys(schema)
    DataSourceUtils.verifySchema(format, schema)
    DataSourceUtils.checkFieldNames(format, schema)
    format
  }
}
