package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.parser.ParseException
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Referenced

/** The relation collector behind per-query view registration: it may name
  * more tables than a statement reads, never fewer, and it answers `None`
  * ("register every table") whenever the parse tree cannot say. Only the
  * session's parser runs here, except where the fallback's error text is
  * checked through the engine. */
class ReferencedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def named(sql: String): Option[Set[String]] =
    Referenced.tables(spark, sql, Tables.names)

  test("a plain query names exactly the tables in its FROM clauses") {
    assert(named("SELECT r_name FROM region") == Some(Set("region")))
    assert(named("SELECT 1") == Some(Set.empty))
    assert(named(
      "SELECT * FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "JOIN customer c ON o.o_custkey = c.c_custkey") ==
      Some(Set("lineitem", "orders", "customer")))
  }

  test("IN, EXISTS and correlated scalar subqueries") {
    assert(named(
      "SELECT c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)") ==
      Some(Set("customer", "orders")))
    assert(named(
      "SELECT n_name FROM nation n WHERE EXISTS " +
        "(SELECT 1 FROM supplier s WHERE s.s_nationkey = n.n_nationkey)") ==
      Some(Set("nation", "supplier")))
    assert(named(
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS m
        |FROM customer c WHERE c_acctbal > (SELECT avg(p_retailprice) FROM part)""".stripMargin) ==
      Some(Set("customer", "orders", "part")))
  }

  test("LATERAL subqueries and UNION branches") {
    assert(named(
      "SELECT * FROM customer c, LATERAL (SELECT o_orderkey FROM orders o " +
        "WHERE o.o_custkey = c.c_custkey LIMIT 2)") == Some(Set("customer", "orders")))
    assert(named("SELECT n_name FROM nation UNION SELECT r_name FROM region") ==
      Some(Set("nation", "region")))
  }

  test("a CTE that shadows a table name still registers the table it reads") {
    assert(named(
      "WITH orders AS (SELECT * FROM orders WHERE o_custkey > 1) SELECT count(*) FROM orders") ==
      Some(Set("orders")))
    // a CTE name that is not a table is no reason to fall back
    assert(named("WITH big AS (SELECT * FROM part) SELECT count(*) FROM big") ==
      Some(Set("part")))
  }

  test("WITH RECURSIVE: the self-reference is a CTE, the tables in either branch count") {
    assert(named(
      """WITH RECURSIVE chain(k, d) AS (
        |  SELECT o_orderkey, 0 FROM orders WHERE o_orderkey < 5
        |  UNION ALL
        |  SELECT l_orderkey, d + 1 FROM chain JOIN lineitem ON l_orderkey = k + 1 WHERE d < 2
        |)
        |SELECT count(*) FROM chain""".stripMargin) == Some(Set("orders", "lineitem")))
  }

  test("upper-case and back-quoted names resolve to the source's table names") {
    assert(named("SELECT * FROM `ORDERS` o JOIN Nation n ON true") ==
      Some(Set("orders", "nation")))
    assert(Referenced.tables(spark, "SELECT * FROM orders", Seq("Orders")) == Some(Set("Orders")))
    // the session's resolver decides: a case-sensitive session no longer
    // matches `ORDERS`, so the name is unknown and everything registers
    spark.conf.set("spark.sql.caseSensitive", "true")
    try assert(named("SELECT * FROM ORDERS") == None)
    finally spark.conf.unset("spark.sql.caseSensitive")
  }

  test("fallbacks: commands, IDENTIFIER clauses and unknown names register every table") {
    Seq("SHOW TABLES", "DESCRIBE orders", "EXPLAIN SELECT * FROM orders",
      "CREATE OR REPLACE TEMP VIEW v AS SELECT * FROM orders").foreach { sql =>
      assert(named(sql) == None, sql)
    }
    assert(named("SELECT * FROM IDENTIFIER('orders')") == None)
    assert(named("SELECT IDENTIFIER('o_custkey') FROM orders") == None)
    assert(named("SELECT * FROM ordrs") == None)
    assert(named("SELECT * FROM orders JOIN default.region ON true") == None)
    // the typo still fails with Spark's own error after the fallback
    val e = intercept[AnalysisException] {
      Engine.query(spark, s"parquet://$sf", "SELECT * FROM ordrs")
    }
    assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND", e.getMessage)
  }

  test("a statement that does not parse registers nothing and raises the parser's error") {
    assert(named("SELEC * FROM orders") == Some(Set.empty))
    intercept[ParseException] {
      Engine.query(spark, s"parquet://$sf", "SELEC * FROM orders")
    }
  }
}
