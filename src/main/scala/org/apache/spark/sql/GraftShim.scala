package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.DataSource

/** Bridge into Spark 4's sql-private helpers:
  *  - the Column ↔ Expression conversions
  *    (`org.apache.spark.sql.classic.ExpressionUtils` is `private[sql]`),
  *    the standard pattern for libraries that ship custom Catalyst
  *    expressions without going through the function registry;
  *  - the file-source read path's own path check and footer error, so
  *    `graft.Tables.parquetSchema` fails exactly as Spark's read would.
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
}
