package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bpe, Events, Relational, Similarity}

/** CI pins for the degenerate-input contracts the extreme/nonfinite
  * mutation tiers established (ROUND9.md §18a/§18b). The tiers live in
  * /tmp and are re-run per round; these specs keep the contracts from
  * regressing between tier runs — each one is an input class that used to
  * CRASH under this build's ANSI default (double division by zero /
  * decimal cast of nonfinite) or diverge cross-engine.
  */
class DegenerateContractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Write `df` as <tree>/<table>.parquet and run `body` on the tree's
    * path, so the (SparkSession, dir) operator entry points run on
    * synthetic tables. */
  private def withCorpus[T](table: String)(df: org.apache.spark.sql.DataFrame)(body: String => T): T =
    Scratch.withTree("graft-degen-") { dir =>
      df.coalesce(1).write.parquet(s"$dir/$table.parquet")
      body(dir.getPath)
    }

  test("q41: zero-variance group yields NULL corr and 0 stddev; n=1 group yields NULL stddev/covar") {
    // 'C' has constant quantity (variance exactly 0), 'S' is a singleton,
    // 'V' is a healthy bivariate group
    val rows = Seq(
      ("C", 25.0, 10.0), ("C", 25.0, 20.0), ("C", 25.0, 30.0),
      ("S", 7.0, 7.0),
      ("V", 1.0, 2.0), ("V", 2.0, 5.0), ("V", 3.0, 7.0))
    withCorpus("lineitem")(rows.toDF("l_returnflag", "l_quantity", "l_extendedprice")) { dir =>
      val out = Relational.q41CorrStats(spark, dir).collect()
        .map(r => r.getString(0) -> r).toMap
      assert(out("C").isNullAt(2), "constant-x corr must be NULL")
      assert(out("C").getDouble(3) == 0.0, "constant-group stddev is 0")
      assert(!out("C").isNullAt(4), "covar of a constant group is defined (0)")
      assert(out("S").isNullAt(2) && out("S").isNullAt(3) && out("S").isNullAt(4),
        "n=1: corr/stddev/covar all NULL")
      assert(out("V").getDouble(2) > 0.99, "healthy group: corr ~ 1")
    }
  }

  test("similarity: zero-norm vectors are excluded at the source, never divided by") {
    val vecs = (0L until 12L).map { i =>
      val v = if (i == 3) Array.fill(Similarity.Dim)(0.0f)
      else Array.tabulate(Similarity.Dim)(j => (((i * 31 + j * 7) % 13) - 6).toFloat)
      (i, v, (i % 4).toInt)
    }
    withCorpus("embeddings")(vecs.toDF("vec_id", "embedding", "label")) { dir =>
      assert(Similarity.vectors(spark, dir).count() == 11)
      val out = Similarity.bruteForceTopK(spark, dir).collect()
      assert(out.nonEmpty)
      // the zero vector appears neither as query nor candidate, and no row
      // carries a NaN cosine (the 0/0 path is unreachable by construction)
      out.foreach { r =>
        assert(r.getAs[Long]("q_id") != 3L && r.getAs[Long]("c_id") != 3L)
        assert(!r.getAs[Double]("cos").isNaN)
      }
    }
  }

  test("bpe encode: zero-token docs carry 0 subwords + md5(''); NULL text propagates NULL") {
    val docs = Seq(
      (1L, "ab ab ra"), (2L, ""), (3L, "   "), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Bpe.encodeWith(docs, Seq("a" -> "b")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    for (id <- Seq(2L, 3L)) {
      assert(out(id).getLong(1) == 0L, s"doc $id: zero tokens -> 0 subwords")
      assert(out(id).getString(2) == emptyMd5, s"doc $id: fingerprint of the empty stream")
    }
    assert(out(4L).isNullAt(1) && out(4L).isNullAt(2), "NULL text stays NULL")
    // "ab"→[ab,</w>]×2 after the (a,b) merge; "ra"→[r,a,</w>] untouched
    assert(out(1L).getLong(1) == 7L)
  }

  test("nonfinite measurements contribute nothing to decimal-exact sums") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:15:00")
    val rows = Seq(
      (1L, ts, 10L, "view", 2.5),
      (2L, ts, 10L, "view", Double.NaN),
      (3L, ts, 10L, "view", Double.PositiveInfinity),
      (4L, ts, 10L, "view", Double.NegativeInfinity),
      (5L, ts, 10L, "view", 4.0))
    withCorpus("events")(rows.toDF("event_id", "ts", "user_id", "event_type", "value")) { dir =>
      val out = Events.tumbling(spark, dir).collect()
      assert(out.length == 1)
      assert(out(0).getAs[Long]("n") == 5L, "counts keep every row")
      assert(out(0).getAs[Double]("total_value") == 6.5,
        "NaN/±inf drop to NULL in the decimal cast; the sum stays finite")
    }
  }
}
