package graft

import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input robustness: the whole registry against an EMPTY
  * corpus. Empty inputs are routine at scale (a fresh source, a filter
  * that matched nothing, a day with no data), and an operator that dies
  * deep inside an expression with an unrelated-looking internal error is
  * an operations hazard even when the "right" answer is a refusal.
  *
  * Contract pinned here: every registered query over a corpus of
  * zero-row tables either COMPLETES (producing an empty or constant
  * result) or refuses LOUDLY via the documented degenerate-input
  * `require` convention ("… needs …": the ANN quantizer trainers and
  * PageRank, whose outputs are undefined on nothing). Anything else —
  * NPEs, schema-inference failures, VOID-type analysis errors — is a
  * regression (r08 found and fixed three: ss4's empty-seed cell
  * expression, ss5's fileless index write, bf1's null-bit-array bloom
  * probe). */
class EmptyInputSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("every registered query on an empty corpus completes or refuses loudly") {
    Scratch.withTree("graft-empty") { tree =>
      val emptyDir = tree.getPath
      Tables.names.foreach { t =>
        Tables(spark, SparkTestSession.sf, t).limit(0)
          .write.mode("overwrite").parquet(s"$emptyDir/$t.parquet")
      }
      val failures = scala.collection.mutable.Buffer[String]()
      var refused = 0
      SparkEntry.queries.foreach { case (name, fn) =>
        try { fn(spark, emptyDir).collect(); () }
        catch {
          case e: IllegalArgumentException
              if Option(e.getMessage).exists(_.contains("needs")) =>
            refused += 1 // the documented loud-refusal convention
          case e: Throwable =>
            failures += s"$name: ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(120)
        }
      }
      assert(failures.isEmpty,
        s"${failures.size} queries died with undocumented errors on empty input:\n" +
          failures.mkString("\n"))
      // the loud-refusal set is exactly the trainers/iterators documented to
      // need input; if it grows, the new member needs the same justification
      assert(refused <= 5, s"$refused queries refused — review any new loud-refusal members")
    }
  }
}
