package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Non-overlapping left-to-right count of a constant `pattern` in a string
  * column, as a row kernel ([[Kernels.countOccurrences]]).
  *
  * Semantics are EXACTLY the replace trick the oracle keeps using —
  * `(length(s) − length(replace(s, p, ''))) / length(p)` — because
  * `replace` removes the same non-overlapping left-to-right match set this
  * indexOf loop walks (both engines' replace scans left-to-right,
  * restarting after each match). The trick, though, materializes a full
  * copy of the text per probed pattern; tx3/tx7 probe 6–12 patterns per
  * document, paying 6–12 text copies per row for counts that need zero
  * allocation. This kernel counts in place over the UTF8String.
  *
  * The hash-compare against the unchanged replace-form oracle proves the
  * equivalence on every document; CountOccurrencesPropSpec pins it on
  * adversarial strings (overlapping candidates, repeats, unicode).
  */
object CountOccurrences {
  /** Byte-wise in-place scan: UTF-8 is self-synchronizing (lead and
    * continuation bytes occupy disjoint ranges), so a valid encoded
    * pattern can only byte-match at character boundaries — byte equality
    * IS character equality. This avoids both `UTF8String.indexOf` (whose
    * char-offset `start` argument forces a prefix re-walk per call —
    * O(matches × length) overall, measured SLOWER than the replace trick)
    * and any allocation. */
  def count(s: UTF8String, p: UTF8String): Long = {
    val sn = s.numBytes
    val pn = p.numBytes
    if (pn == 0 || pn > sn) return 0L
    val sBase = s.getBaseObject
    val sOff = s.getBaseOffset
    val pBase = p.getBaseObject
    val pOff = p.getBaseOffset
    var c = 0L
    var i = 0L
    val limit = sn - pn
    while (i <= limit) {
      if (org.apache.spark.unsafe.array.ByteArrayMethods.arrayEquals(
          sBase, sOff + i, pBase, pOff, pn)) {
        c += 1
        i += pn
      } else {
        i += 1
      }
    }
    c
  }
}
