package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.plans.RewriteVectorDot

class RewriteVectorDotSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("optimizer rule rewrites the HOF dot idiom into float_vector_dot") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ RewriteVectorDot
    try {
      val e = Tables(spark, sf, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val df = e.crossJoin(q)
        .select(VectorFunctions.dot(col("embedding"), col("qv")).as("dp"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("float_vector_dot"), optimized.take(500))

      // and the rewritten plan computes the same values as the raw HOF form
      val withRule = df.collect().map(_.getDouble(0)).sorted.toSeq
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == RewriteVectorDot)
      val withoutRule = e.crossJoin(q)
        .select(VectorFunctions.dot(col("embedding"), col("qv")).as("dp"))
        .collect().map(_.getDouble(0)).sorted.toSeq
      assert(withRule == withoutRule)

      // negative case: sum-of-squares over ONE array uses the same shape but
      // both multiply operands are the same lambda variable — must NOT be
      // rewritten into a dot product of two arrays
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteVectorDot
      val sq = e.crossJoin(q).select(
        aggregate(
          zip_with(col("embedding"), col("qv"), (x, _) => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, v) => acc + v).as("sumsq"))
      assert(!sq.queryExecution.optimizedPlan.toString.contains("float_vector_dot"))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == RewriteVectorDot)
    }
  }

  test("GraftExtensions entry point wires rule + SQL function into a fresh session") {
    import org.apache.spark.sql.SparkSession
    val base = spark // force shared-session init before detaching defaults
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // same deployment path as --conf spark.sql.extensions=graft.plans.GraftExtensions
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.plans.GraftExtensions)
        .getOrCreate()
      // injected SQL function resolves and computes
      val d = s2.sql(
        """SELECT float_vector_dot(
          |  array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |  array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin)
        .head().getDouble(0)
      assert(d == 11.0)
      // injected optimizer rule fires without any experimental registration
      val e = Tables(s2, sf, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val df = e.crossJoin(q)
        .select(VectorFunctions.dot(col("embedding"), col("qv")).as("dp"))
      assert(df.queryExecution.optimizedPlan.toString.contains("float_vector_dot"))
      // injected planner strategy plans a filter's constants as reference reads
      val filtered = Tables(s2, sf, "lineitem").where(col("l_partkey") > 5)
      assert(filtered.queryExecution.sparkPlan.exists(
        _.expressions.exists(_.exists(_.isInstanceOf[graft.plans.ParamLiteral]))))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
