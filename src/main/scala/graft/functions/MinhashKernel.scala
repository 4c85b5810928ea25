package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature kernel with Kirsch–Mitzenmacher hash derivation:
  * ONE md5 per distinct token, from which all `numHashes` hash family
  * members are derived as `hash_i = (h1 + i·h2) mod 2⁶¹−1`, where h1/h2
  * are the digest's two 60-bit halves (hex digits 1–15 and 17–31). The
  * signature is the per-hash minimum over the document's distinct
  * space-split tokens (empty tokens included, exactly like
  * `split(text, ' ')` / DuckDB `string_split`).
  *
  * Why this shape (the r06→r07 cost recovery): the engine-portable md5
  * family is what lets dd4/dd8 carry full DuckDB oracles, but the r06
  * formulation paid `numHashes` md5 calls per (doc, token) — a measured
  * ~1.5–1.6× premium on the flagship near-dup queries. Kirsch &
  * Mitzenmacher ("Less Hashing, Same Performance", ESA'06) show the
  * two-hash linear combination preserves LSH guarantees, and every
  * derived value stays DuckDB-re-derivable: `md5` produces the identical
  * hex string there, the 60-bit halves come from the dd5-proven per-digit
  * hex parse, and the Mersenne-mod arithmetic is exact in HUGEINT.
  *
  * Like [[WinnowKernel]] this runs as a scalar kernel — one
  * static call per row inside whole-stage codegen, no per-(token, i)
  * interpreted HOF work, no boxing. The built-ins formulation
  * (`Dedup.signatureColumnsComposable`) is retained as the kernel's
  * cross-validation twin (identical family ⇒ identical output, asserted
  * in DedupSpec).
  */
object MinhashKernel {

  /** Mersenne prime 2⁶¹−1 — the hash modulus (shared with
    * [[WinnowKernel.P]]). Also the fold's +∞: every real hash is < P. */
  val P: Long = (1L << 61) - 1

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Big-endian long from 8 digest bytes at `off`; `>>> 4` of it is the
    * value of the 15 hex digits starting at hex position 2·off+1. */
  private def beLong(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  /** The signature: mins(i) = min over distinct tokens of
    * (h1 + i·h2) mod P. Never returns P itself for non-null text (split
    * yields at least one token, md5-derived hashes are < P). */
  def sign(text: UTF8String, numHashes: Int): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, P)
    // split(text, " ") semantics: literal-space regex, trailing empties
    // kept — identical to Spark's split and DuckDB's string_split
    val toks = text.toString.split(" ", -1)
    val seen = new java.util.HashSet[String](toks.length * 2)
    var t = 0
    while (t < toks.length) {
      val w = toks(t)
      if (seen.add(w)) {
        val d = md.get()
        d.reset()
        val dig = d.digest(w.getBytes(StandardCharsets.UTF_8))
        val h1 = beLong(dig, 0) >>> 4 // hex digits 1–15, < 2^60
        val h2 = beLong(dig, 8) >>> 4 // hex digits 17–31, < 2^60
        var i = 0
        while (i < numHashes) {
          // (h1 + i·h2) mod P: mulmod is exact for 0 ≤ a,b < P; the sum
          // is < 2^60 + P < 2^62, so one conditional subtraction reduces
          var h = h1 + WinnowKernel.mulmod(i.toLong, h2)
          if (h >= P) h -= P
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}
