package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** PageRank: structural ground truths on graphs with known answers, plus
  * the determinism contract the driver's rows-only check relies on. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def ranksOf(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.pageRank(pairs.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("star graph: center outranks leaves, leaves tie exactly, mass sums to 1") {
    val r = ranksOf(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    assert(r.keySet == Set(0L, 1L, 2L, 3L, 4L))
    val leaves = Seq(r(1L), r(2L), r(3L), r(4L))
    assert(leaves.distinct.size == 1, "symmetric leaves must have identical rank")
    assert(r(0L) > r(1L))
    // truncating fixed point: each of the 10 rounds loses < 1 ulp (10^-18)
    // per node to the two integral divisions, so total mass undershoots
    // 10^18 by at most rounds × nodes × 2 ulps — never overshoots
    val mass = r.values.sum
    assert(mass <= Graph.FpScale && Graph.FpScale - mass < 100L)
    // the closed-form fixed-point recurrence (independently derived in the
    // registry's oracle PoC): bit-exact values, not just ordering
    assert(r(0L) == 421402191235800780L && r(1L) == 144649452191049804L)
  }

  test("pageRank holds two rank pins, not one per iteration") {
    import spark.implicits._
    val chain = (0L until 50L).map(i => (i, i + 1)).toDF("a", "b")
    // the three static pins (edges, degrees, weighted edges) and the last
    // two ranks: under AQE (the session default) building a round's pin
    // stores the ranks it reads, so older ranks are released
    val held = SparkTestSession.heldPins(Graph.pageRank(chain))(ranks => assert(ranks.count() == 51))
    assert(held <= 5, s"$held pins held after ${Graph.Iterations} iterations")
  }

  test("path graph: middle node outranks the tied endpoints") {
    val r = ranksOf(Seq((1L, 2L), (2L, 3L)))
    assert(r(2L) > r(1L) && r(1L) == r(3L))
  }

  test("triangle counts: closed-form on K4-minus-an-edge; chains have none") {
    import spark.implicits._
    // K4 minus edge (2,3): exactly the triangles (0,1,2) and (0,1,3)
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L)).toDF("a", "b")
    val r = Graph.triangleCounts(pairs).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(r == Map(0L -> 2L, 1L -> 2L, 2L -> 1L, 3L -> 1L))
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("a", "b")
    assert(Graph.triangleCounts(chain).collect().isEmpty)
  }

  test("gr2 is deterministic and every triangle node is a pair node") {
    val a = Graph.neardupTriangles(spark, sf).collect().toSeq
    assert(a == Graph.neardupTriangles(spark, sf).collect().toSeq)
    val pairNodes = graft.operators.Dedup.jaccardPairs(spark, sf)
      .select(explode(array(col("id_a"), col("id_b")))).collect().map(_.getLong(0)).toSet
    assert(a.map(_.getLong(0)).toSet.subsetOf(pairNodes))
  }

  test("gr1 is deterministic across runs and partitioning") {
    val a = Graph.neardupPageRank(spark, sf).collect().toSeq
    val b = Graph.neardupPageRank(spark, sf).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
    // every ranked node is a sampled doc from the pair relation
    val nodes = a.map(_.getLong(0)).toSet
    val pairNodes = graft.operators.Dedup.jaccardPairs(spark, sf)
      .select(explode(array(col("id_a"), col("id_b")))).collect().map(_.getLong(0)).toSet
    assert(nodes == pairNodes)
  }
}
