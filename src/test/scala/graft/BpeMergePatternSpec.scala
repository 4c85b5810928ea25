package graft

import java.util.regex.Pattern

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

/** Spark-free pin on the BPE merge regex: it matches a symbol stream
  * exactly when the padded-`contains` filter of the distributed learner
  * selects it, so the learner's delta and its re-encode touch the same
  * rows. Spark's `regexp_replace` compiles the same pattern with
  * `java.util.regex`. */
class BpeMergePatternSpec extends AnyFunSuite {
  private def matches(sym: String, l: String, r: String): Boolean =
    Pattern.compile(Bpe.mergePattern(l, r)).matcher(sym).find()

  private def paddedContains(sym: String, l: String, r: String): Boolean =
    (" " + sym + " ").contains(" " + l + " " + r + " ")

  test("a pair followed by a final line terminator does not match") {
    assert(!matches("x a b\n", "a", "b"))
    assert(!paddedContains("x a b\n", "a", "b"))
    // the old `$` anchor matched here, where the filter does not
    assert(Pattern.compile("(?<=^| )" + Pattern.quote("a b") + "(?= |$)")
      .matcher("x a b\n").find())
  }

  test("the pattern agrees with the padded-contains filter on a table of cases") {
    val cases = Seq(
      ("a b", "a", "b"), ("a b </w>", "a", "b"), ("x a b </w>", "a", "b"),
      ("aa b </w>", "a", "b"), ("a bb </w>", "a", "b"), ("xa b", "a", "b"),
      ("a b\n", "a", "b"), ("\na b", "a", "b"), ("a b\r\n", "a", "b"),
      ("a\nb", "a", "b"), ("a  b", "a", "b"), ("b a", "a", "b"),
      ("a b a b", "a", "b"), ("", "a", "b"), ("a", "a", "b"),
      ("a. b </w>", "a.", "b"), ("ab b </w>", "a.", "b"), ("$ ^ </w>", "$", "^"),
      ("t h e </w>", "e", "</w>"), ("th e</w>", "e", "</w>"), ("x  a b", "a", "b"),
      ("a b ", "a", "b"), ("a b\u0085", "a", "b"))
    cases.foreach { case (sym, l, r) =>
      assert(matches(sym, l, r) == paddedContains(sym, l, r),
        s"pattern and filter disagree on ${sym.replace("\n", "\\n")} for ($l, $r)")
    }
    assert(cases.count { case (s, l, r) => matches(s, l, r) } >= 8, "table is mostly negatives")
  }
}
