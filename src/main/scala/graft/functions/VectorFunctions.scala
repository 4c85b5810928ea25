package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, composed from
  * codegen'd built-ins (`zip_with`/`transform`/`aggregate`) so the whole
  * expression stays inside WholeStageCodegen — no UDF/serialization cost,
  * which is what makes brute-force scoring viable on wide scans.
  *
  * All accumulation is in double (each float element cast before multiply),
  * matching what a DuckDB `list_cosine_similarity(CAST(… AS DOUBLE[]), …)`
  * oracle computes, so results are bit-comparable.
  */
object VectorFunctions {

  /** Σ aᵢ·bᵢ, accumulated left-to-right in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** ‖a‖₂ */
  def norm(a: Column): Column =
    sqrt(aggregate(
      transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0),
      (acc, x) => acc + x))

  /** cos(a, b) = a·b / (‖a‖‖b‖) */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Codegen'd dot product (custom Catalyst expression — see
    * FloatVectorDot's scaladoc for why this beats the HOF composition by
    * ~20× inside similarity joins). Same accumulation order ⇒ same bits. */
  def dotFast(a: Column, b: Column): Column =
    GraftShim.column(FloatVectorDot(
      GraftShim.expression(a), GraftShim.expression(b)))

  /** Codegen'd ‖a‖₂. */
  def normFast(a: Column): Column = sqrt(dotFast(a, a))

  /** Make `float_vector_dot` callable from SQL text on an existing session
    * (the `GraftExtensions` route covers sessions built with
    * `spark.sql.extensions`). */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "float_vector_dot",
      exprs => {
        require(exprs.length == 2, s"float_vector_dot expects 2 arguments, got ${exprs.length}")
        FloatVectorDot(exprs.head, exprs(1))
      },
      "built-in")
}
