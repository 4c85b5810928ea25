package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Property tests for the round's fold/graph operators against tiny
  * sequential reference implementations — the same distributed-vs-
  * reference pattern BpeSketchSpec uses for the merge learner. */
class GraphFoldPropSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // random simple undirected graphs on up to 12 nodes, as a<b edge lists
  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(3, 12)
    density <- Gen.choose(0.1, 0.8)
    picks <- Gen.listOfN(
      (n * (n - 1) / 2 * density).toInt.max(1),
      for { a <- Gen.choose(0, n - 2); b <- Gen.choose(1, n - 1) } yield (a, b))
  } yield picks.collect { case (a, b) if a != b =>
    (math.min(a, b).toLong, math.max(a, b).toLong)
  }.distinct

  /** O(n³) reference: count triangles per node from the adjacency set. */
  private def refTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq.sorted
    val counts = for {
      a <- nodes
      b <- nodes if b > a && adj(a)(b)
      c <- nodes if c > b && adj(a)(c) && adj(b)(c)
      n <- Seq(a, b, c)
    } yield n
    counts.groupBy(identity).view.mapValues(_.length.toLong).toMap
  }

  test("triangleCounts equals the O(n^3) reference on random graphs") {
    import spark.implicits._
    val graphs = Gen.listOfN(25, graphGen).pureApply(Gen.Parameters.default, Seed(7L))
    graphs.filter(_.nonEmpty).foreach { edges =>
      val got = Graph.triangleCounts(edges.toDF("a", "b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == refTriangles(edges), s"edges: $edges")
    }
  }

  test("batch EWMA invariants: bounded by value range, exact vs sequential fold") {
    import spark.implicits._
    val seqGen: Gen[List[Double]] =
      Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, Gen.choose(-1e4, 1e4)))
    val sequences = Gen.listOfN(40, seqGen).pureApply(Gen.Parameters.default, Seed(11L))
    // one synthetic user per sequence, event order = list order
    val rows = sequences.zipWithIndex.flatMap { case (vs, u) =>
      vs.zipWithIndex.map { case (v, i) =>
        (u.toLong, new java.sql.Timestamp(1600000000000L + i * 1000L), i.toLong, v)
      }
    }
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val expected = sequences.zipWithIndex.map { case (vs, u) =>
      u.toLong -> vs.tail.foldLeft(vs.head)((acc, x) => 0.25 * x + 0.75 * acc)
    }.toMap
    // run the BATCH fold (Events.ewma shape) over the frame
    val folded = df
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value")))).as("seq"))
      .select(col("user_id"),
        aggregate(
          slice(col("seq"), lit(2), greatest(size(col("seq")) - 1, lit(0))),
          element_at(col("seq"), 1).getField("value"),
          (acc, x) => lit(0.25) * x.getField("value") + lit(0.75) * acc).as("ewma"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    expected.foreach { case (u, e) =>
      assert(folded(u) == e, s"batch fold diverged for user $u")
      val vs = sequences(u.toInt)
      assert(folded(u) >= vs.min - 1e-9 && folded(u) <= vs.max + 1e-9,
        "EWMA must stay inside the value range")
    }
  }
}
