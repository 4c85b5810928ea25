package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** BPE encode kernel: apply a learned merge table to a whitespace-tokenized
  * text in ONE pass over the data, inside whole-stage codegen.
  *
  * Why a kernel and not built-ins: the portable formulation (`Bpe`'s
  * chained anchored-regex `regexp_replace`, one per merge) is correct and
  * shuffle-free, but re-traverses every document once PER MERGE — at the
  * 10× corpus the 12-pass chain is ~50 s of pure regex CPU, the top cost
  * of the whole bench. Encoding is a per-document sequential algorithm
  * with zero cross-row dependencies, so the right plan is the same narrow
  * map with the per-row cost collapsed: this kernel splits the text
  * once and applies the merges in rank order over small symbol arrays (no
  * regex, no per-merge string rebuild of the full document).
  *
  * Merges apply per word and in rank order, with left-to-right
  * non-overlapping replacement within a word — exactly the regex chain's
  * semantics ("a a a" under (a,a) → "aa a"). Rank order is complete: a
  * merge can only create adjacencies involving its output symbol, and any
  * learned pair containing that symbol has a higher rank, so earlier pairs
  * never reappear. BpeSketchSpec asserts the kernel bit-identical to the
  * regex-chain formulation on the real corpus, which stays in the spec as
  * this kernel's oracle.
  */
object BpeEncodeKernel {

  /** Encode `text` (space-separated words; empty tokens skipped) with the
    * rank-ordered `merges` (rows of `[left, right]`). Returns the encoded
    * symbol stream, symbols space-separated, each word ending in its
    * `</w>`-suffixed final symbol. */
  def encode(text: UTF8String, merges: Array[Array[String]]): UTF8String = {
    val doc = text.toString
    val sb = new java.lang.StringBuilder(doc.length * 2)
    var wordStart = 0
    val n = doc.length
    var i = 0
    while (i <= n) {
      if (i == n || doc.charAt(i) == ' ') {
        if (i > wordStart) encodeWord(doc, wordStart, i, merges, sb)
        wordStart = i + 1
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  private def encodeWord(
      doc: String, from: Int, until: Int,
      merges: Array[Array[String]], sb: java.lang.StringBuilder): Unit = {
    // initial symbols: one per code point (matching split on the empty
    // regex, which never breaks surrogate pairs), plus the </w> marker
    var syms = new java.util.ArrayList[String](until - from + 1)
    var i = from
    while (i < until) {
      val cc = Character.charCount(doc.codePointAt(i))
      syms.add(doc.substring(i, i + cc))
      i += cc
    }
    syms.add(graft.operators.Bpe.EndOfWord)
    var m = 0
    while (m < merges.length) {
      val l = merges(m)(0)
      val r = merges(m)(1)
      val len = syms.size
      // in-place compaction: left-to-right, non-overlapping
      var read = 0
      var write = 0
      while (read < len) {
        if (read + 1 < len && syms.get(read) == l && syms.get(read + 1) == r) {
          syms.set(write, l + r); read += 2
        } else {
          syms.set(write, syms.get(read)); read += 1
        }
        write += 1
      }
      while (syms.size > write) syms.remove(syms.size - 1)
      m += 1
    }
    var j = 0
    while (j < syms.size) {
      if (sb.length > 0) sb.append(' ')
      sb.append(syms.get(j))
      j += 1
    }
  }
}
