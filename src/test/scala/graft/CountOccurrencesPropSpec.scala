package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property: the CountOccurrences kernel equals the replace
  * trick `(len(s) − len(replace(s, p, ''))) / len(p)` — the formulation
  * the tx7 oracle keeps — on adversarial strings: overlapping candidates
  * (the non-overlapping left-to-right match set must agree), repeats,
  * empty strings, and multi-byte unicode (`ión` is a live profile
  * trigram). */
class CountOccurrencesPropSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val alphabet = Gen.frequency(
    6 -> Gen.oneOf('a', 'b', ' '),
    2 -> Gen.oneOf('t', 'h', 'e'),
    1 -> Gen.oneOf('ó', 'í', 'ß'))
  private val strGen: Gen[String] = for {
    n <- Gen.choose(0, 40)
    cs <- Gen.listOfN(n, alphabet)
  } yield cs.mkString

  test("kernel equals the replace trick on random strings for every live pattern") {
    import spark.implicits._
    val patterns = Seq("the", "aa", "ab", "ión", "b", " a ", "aba")
    val strings = Gen.listOfN(400, strGen)
      .pureApply(Gen.Parameters.default, Seed(7L)) ++
      Seq("", "aaaa", "ababab", "ión ión", "the the the")
    val df = strings.toDF("s")
    patterns.foreach { p =>
      val kernel = graft.functions.Kernels.countOccurrences(col("s"), p)
      val lenDiff = (length(col("s")) - length(expr(s"replace(s, '$p', '')"))) / p.length
      val disagree = df.select(kernel.as("k"), lenDiff.cast("long").as("r"))
        .filter(col("k") =!= col("r"))
      assert(disagree.count() == 0, s"kernel != replace trick for pattern '$p'")
    }
  }
}
