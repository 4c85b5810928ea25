package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{ExtendedMode, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.scalatest.funsuite.AnyFunSuite

import graft.Ckpt.PinOps
import graft.plans.{ParamLiteral, StableLiterals}
import graft.sinks.Sinks
import graft.sources.Source
import graft.tools.Compiles

/** Filter constants planned as reference reads ([[StableLiterals]]): a
  * fresh-literal export reuses the generated classes of the last one, while
  * pushdown, partition pruning, rows and plan text stay as without the
  * strategy. */
class StableLiteralsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def session(strategy: Boolean, codegen: Boolean = true): SparkSession = {
    val s = spark.newSession()
    if (strategy) s.experimental.extraStrategies = Seq(StableLiterals)
    if (!codegen) {
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    s
  }

  private def params(p: SparkPlan): Seq[ParamLiteral] =
    p.flatMap(_.expressions.flatMap(_.collect { case l: ParamLiteral => l }))

  // --- compiles ---

  private val shapes: Seq[(String, Int => String)] = Seq(
    "a filter over a file scan" -> { k =>
      s"""SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
         |WHERE l_partkey BETWEEN ${10 + k} AND ${150 + 3 * k}
         |AND l_shipdate >= TIMESTAMP '199${k % 4}-0${1 + k % 9}-1${k % 9} 00:00:00'
         |ORDER BY l_orderkey, l_linenumber LIMIT ${20 + k}""".stripMargin
    },
    "a filter over a window" -> { k =>
      s"""SELECT c_nationkey, c_custkey, spend, rk FROM (
         |SELECT c_nationkey, c_custkey, spend,
         |rank() OVER (PARTITION BY c_nationkey ORDER BY spend DESC, c_custkey) AS rk
         |FROM (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(14,2))) AS spend
         |FROM orders GROUP BY o_custkey) s JOIN customer ON o_custkey = c_custkey) t
         |WHERE rk <= ${2 + k} ORDER BY c_nationkey, rk""".stripMargin
    },
    "a join with an aggregate" -> { k =>
      s"""SELECT n_name, o_orderpriority, count(*) AS n FROM orders
         |JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '199${2 + k % 3}-0${1 + k % 9}-01 00:00:00'
         |AND o_orderdate < TIMESTAMP '1998-0${1 + k % 9}-2${k % 9} 00:00:00'
         |GROUP BY n_name, o_orderpriority ORDER BY n_name, o_orderpriority""".stripMargin
    })

  private def exportCompiles(s: SparkSession, sql: String, viaEngine: Boolean): Long =
    Scratch.withTree("graft-stable-literals") { dir =>
      val out = new java.io.File(dir, "out.csv").getPath
      Compiles.of(spark.sparkContext) {
        if (viaEngine) Engine.export(s, s"parquet://$sf", sql, out)
        else Sinks.writeSingleFile(Source.fromUrl(s"parquet://$sf").load(s, sql), out)
      }._2
    }

  shapes.zipWithIndex.foreach { case ((shape, sql), i) =>
    test(s"after one warm export, a fresh-literal export of $shape compiles nothing") {
      // literal sets no other test uses, so a cached class cannot mask a compile
      val k = 1 + 3 * i
      val withIt = spark.newSession()
      exportCompiles(withIt, sql(k), viaEngine = true)
      assert(withIt.experimental.extraStrategies.contains(StableLiterals))
      assert(exportCompiles(withIt, sql(k + 1), viaEngine = true) == 0)
      // the same two exports without the strategy compile: the probe can see a compile
      val without = session(strategy = false)
      exportCompiles(without, sql(k + 30), viaEngine = false)
      assert(exportCompiles(without, sql(k + 31), viaEngine = false) > 0)
    }
  }

  // --- pushdown and pruning ---

  test("the scan's pushed filters keep the literal values; the filter above reads them by reference") {
    val s = session(strategy = true)
    val plan = Source.fromUrl(s"parquet://$sf").load(s,
      "SELECT l_orderkey FROM lineitem WHERE l_partkey BETWEEN 777 AND 1888")
      .queryExecution.sparkPlan
    val pushed = plan.collectFirst { case f: FileSourceScanExec => f.metadata("PushedFilters") }.get
    assert(pushed.contains("GreaterThanOrEqual(l_partkey,777)"), pushed)
    assert(pushed.contains("LessThanOrEqual(l_partkey,1888)"), pushed)
    assert(params(plan).map(_.value).toSet == Set(777L, 1888L))
  }

  test("a key=value directory table prunes the same partitions and reads the same files") {
    Scratch.withTree("graft-stable-literals-pt") { dir =>
      spark.range(0, 400).selectExpr("id AS v", "CAST(id % 8 AS INT) AS k")
        .coalesce(1).write.partitionBy("k").parquet(s"${dir.getPath}/pt")
      val sql = "SELECT v, k FROM pt WHERE k >= 5 AND v > 100"
      def scan(strategy: Boolean): (FileSourceScanExec, Seq[Row]) = {
        val s = session(strategy)
        val df = Source.fromUrl(s"parquet://${dir.getPath}").load(s, sql)
        val rows = df.collect().toSeq.sortBy(_.getLong(0))
        (collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }.head, rows)
      }
      val (withIt, rowsWith) = scan(strategy = true)
      val (without, rowsWithout) = scan(strategy = false)
      def partitionFilters(f: FileSourceScanExec) = f.metadata("PartitionFilters").replaceAll("#\\d+", "#")
      assert(partitionFilters(withIt) == partitionFilters(without))
      assert(partitionFilters(withIt).contains("(k# >= 5)"), partitionFilters(withIt))
      val files = (f: FileSourceScanExec) => f.metrics("numFiles").value
      assert(files(withIt) == files(without))
      assert(files(withIt) == 3, "one file per partition k >= 5")
      assert(rowsWith.size == (101 until 400).count(_ % 8 >= 5))
      assert(rowsWith == rowsWithout)
    }
  }

  // --- rows for every paramized type ---

  // one row per extreme, and a row of nulls
  private val typedSql =
    """SELECT id, CAST(b AS TINYINT) AS b, CAST(s AS SMALLINT) AS s, CAST(i AS INT) AS i,
      |CAST(l AS BIGINT) AS l, CAST(f AS FLOAT) AS f, CAST(d AS DOUBLE) AS d, dt, ts, ntz, ym, dtm
      |FROM VALUES
      |(1, -128, -32768, -2147483648, -9223372036854775808L, 'NaN', 'NaN', DATE '0001-01-01',
      | TIMESTAMP '0001-01-01 00:00:00', TIMESTAMP_NTZ '0001-01-01 00:00:00',
      | INTERVAL '-178956970-7' YEAR TO MONTH, INTERVAL '-106751990 00:00:00' DAY TO SECOND),
      |(2, 127, 32767, 2147483647, 9223372036854775807L, 'Infinity', 'Infinity', DATE '9999-12-31',
      | TIMESTAMP '9999-12-31 23:59:59.999999', TIMESTAMP_NTZ '9999-12-31 23:59:59.999999',
      | INTERVAL '178956970-7' YEAR TO MONTH, INTERVAL '106751990 00:00:00' DAY TO SECOND),
      |(3, 0, 0, 0, 0L, '0.0', '0.0', DATE '1970-01-01',
      | TIMESTAMP '1970-01-01 00:00:00', TIMESTAMP_NTZ '1970-01-01 00:00:00',
      | INTERVAL '0-0' YEAR TO MONTH, INTERVAL '0 00:00:00' DAY TO SECOND),
      |(4, -1, -1, -1, -1L, '-0.0', '-0.0', DATE '1969-12-31',
      | TIMESTAMP '1969-12-31 23:59:59.999999', TIMESTAMP_NTZ '1969-12-31 23:59:59.999999',
      | INTERVAL '-0-1' YEAR TO MONTH, INTERVAL '-0 00:00:00.000001' DAY TO SECOND),
      |(5, 7, 300, 70000, 5000000000L, '-Infinity', '-Infinity', DATE '2000-02-29',
      | TIMESTAMP '2000-02-29 12:30:00', TIMESTAMP_NTZ '2000-02-29 12:30:00',
      | INTERVAL '1-2' YEAR TO MONTH, INTERVAL '1 02:03:04.000005' DAY TO SECOND),
      |(6, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
      |AS t(id, b, s, i, l, f, d, dt, ts, ntz, ym, dtm)""".stripMargin

  private val predicates = Seq(
    "b = 127Y", "b < -1Y", "b >= CAST(-128 AS TINYINT)",
    "s = -32768S", "s > 0S",
    "i = -2147483648", "i > 0", "i <= 2147483647",
    "l = -9223372036854775808L", "l > 0L", "l <> 9223372036854775807L",
    "f = CAST('NaN' AS FLOAT)", "f > CAST(0.0 AS FLOAT)", "f = CAST(-0.0 AS FLOAT)",
    "f >= CAST('Infinity' AS FLOAT)", "f < CAST('-Infinity' AS FLOAT) OR f > CAST(-3.5 AS FLOAT)",
    "d = double('NaN')", "d = -0.0D", "d > 0.0D", "d = double('Infinity')",
    "d <=> double('-Infinity')", "CAST(d + -0.0D AS STRING) = '-0.0'", "d < 1.5E300D",
    "dt = DATE '0001-01-01'", "dt >= DATE '9999-12-31'", "dt > DATE '1970-01-01'",
    "ts = TIMESTAMP '0001-01-01 00:00:00'", "ts >= TIMESTAMP '9999-12-31 23:59:59.999999'",
    "ts < TIMESTAMP '1970-01-01 00:00:00'",
    "ntz = TIMESTAMP_NTZ '0001-01-01 00:00:00'", "ntz > TIMESTAMP_NTZ '1970-01-01 00:00:00'",
    "ym > INTERVAL '1-1' YEAR TO MONTH", "ym = INTERVAL '-178956970-7' YEAR TO MONTH",
    "dtm >= INTERVAL '1 02:03:04.000005' DAY TO SECOND", "dtm < INTERVAL '0' SECOND",
    // rand reads its seed as a Literal: the seed stays, the 0.5 is paramized
    "rand(7) < 0.5D")

  test("rows are unchanged for every paramized type, with, without and under NO_CODEGEN") {
    Scratch.withTree("graft-stable-literals-types") { dir =>
      val path = s"${dir.getPath}/typed"
      spark.sql(typedSql).coalesce(1).write.parquet(path)
      val modes = Seq(
        "with" -> session(strategy = true), "without" -> session(strategy = false),
        "with, NO_CODEGEN" -> session(strategy = true, codegen = false))
      // over the scan (FileSourceStrategy's filter) and over a window (BasicOperators' filter)
      def shapes(s: SparkSession): Seq[DataFrame] = {
        val t = s.read.parquet(path)
        Seq(t, t.withColumn("rn", row_number().over(Window.orderBy(col("id")))))
      }
      var matched = 0
      predicates.foreach { p =>
        val results = modes.map { case (mode, s) =>
          mode -> shapes(s).map { df =>
            val q = df.where(p).select("id")
            if (mode == "with") assert(params(q.queryExecution.sparkPlan).nonEmpty, s"$p: nothing paramized")
            q.collect().map(_.getInt(0)).sorted.toSeq
          }
        }
        results.foreach { case (mode, ids) =>
          assert(ids == results.head._2, s"$p: $mode ${ids.mkString} vs with ${results.head._2.mkString}")
        }
        assert(results.head._2.head == results.head._2(1), s"$p: scan and window shapes disagree")
        if (results.head._2.head.nonEmpty) matched += 1
      }
      assert(matched >= predicates.size - 4, s"only $matched predicates select a row")
    }
  }

  // --- plans where the strategy should not act, and plan text where it does ---

  private def plannedBoth(make: SparkSession => DataFrame, s: SparkSession): (SparkPlan, SparkPlan, String, String) = {
    val base = make(s)
    def plan(strategy: Boolean) = {
      s.experimental.extraStrategies = if (strategy) Seq(StableLiterals) else Nil
      val qe = base.where("v > 5 AND v < 4000000000L").queryExecution
      // an exchange's plan_id numbers each planning, not the plan
      (qe.sparkPlan, qe.explainString(ExtendedMode).replaceAll("plan_id=\\d+", "plan_id="))
    }
    val (withIt, withText) = plan(strategy = true)
    val (without, withoutText) = plan(strategy = false)
    (withIt, without, withText, withoutText)
  }

  test("a filter over a pin or a local relation plans exactly as without the strategy") {
    val s = session(strategy = false)
    // keep the Filter over the LocalRelation (the optimizer would evaluate it)
    s.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val local = (x: SparkSession) => x.createDataFrame((1L to 20L).map(Tuple1(_))).toDF("v")
    val pin = (x: SparkSession) => x.range(0, 20).toDF("v").pin()
    Seq("a local relation" -> local, "a pin" -> pin).foreach { case (leaf, make) =>
      val (withIt, without, withText, withoutText) = plannedBoth(make, s)
      assert(withIt.collectFirst { case f: org.apache.spark.sql.execution.FilterExec => f }.nonEmpty, leaf)
      assert(withIt == without, s"over $leaf")
      assert(withText == withoutText, s"over $leaf")
    }
  }

  test("explain text is identical with and without the strategy where it acts") {
    Scratch.withTree("graft-stable-literals-explain") { dir =>
      spark.range(0, 50).toDF("v").write.parquet(s"${dir.getPath}/t")
      val s = session(strategy = false)
      val scan = (x: SparkSession) => x.read.parquet(s"${dir.getPath}/t")
      val window = (x: SparkSession) => scan(x).withColumn("rn", row_number().over(Window.orderBy(col("v"))))
      Seq("a scan" -> scan, "a window" -> window).foreach { case (shape, make) =>
        val (withIt, without, withText, withoutText) = plannedBoth(make, s)
        assert(params(withIt).map(_.value).toSet == Set(5L, 4000000000L), s"over $shape")
        assert(params(without).isEmpty && withIt != without, s"over $shape")
        assert(withText == withoutText, s"over $shape")
      }
    }
  }
}
