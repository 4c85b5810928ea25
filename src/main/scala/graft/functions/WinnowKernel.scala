package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint kernel (Schleimer et al., SIGMOD'03): hash every
  * character k-gram, then keep the distinct minima of each window of `w`
  * consecutive k-gram hashes — the whole document-fingerprinting pass as one
  * scalar function.
  *
  * Why a kernel and not built-ins: the composable formulation (posexplode
  * positions → per-gram hash → window-min → distinct) is correct and
  * linear, but at scale it shuffles one row PER CHARACTER of the corpus for
  * the per-doc window sort — ~40 M rows for a 50 k-doc corpus, the top cost
  * of the whole bench. Winnowing is a per-document sequential algorithm with
  * zero cross-row dependencies, so the 100 TB-correct plan is a narrow map:
  * this kernel computes the fingerprint set inside whole-stage codegen
  * (one static call per row), and the only shuffle left in the query is the
  * output ordering. Measured ~5× on the sf0.1 corpus, more at scale.
  *
  * Hash family: ENGINE-PORTABLE Karp–Rabin — the k-gram's Unicode code
  * points folded by Horner's rule with base [[WinnowKernel.Base]] modulo the
  * Mersenne prime 2⁶¹−1 ([[WinnowKernel.P]]). Exact integer arithmetic, so
  * the identical value is computable from Spark built-ins
  * (`ascii`/DECIMAL(38,0) `pmod` — Dedup.winnowFingerprintsComposable,
  * asserted bit-identical in DedupSpec) and from DuckDB built-ins
  * (`ord`/HUGEINT `%` — dd7's oracle). This is what moved dd7 from
  * rows-only to a full hash-checked oracle: the previous XXH64 family was
  * Spark-only. The kernel computes it in pure 64-bit arithmetic — Mersenne
  * folding (2⁶⁴ ≡ 8 mod p) over `Math.multiplyHigh`, a JIT intrinsic — and
  * ROLLS the hash across positions (two modmuls per character, independent
  * of k), so the swap costs nothing at the corpus scan.
  */
object WinnowKernel {

  /** Mersenne prime 2⁶¹−1 — the hash modulus. */
  val P: Long = (1L << 61) - 1

  /** Horner base — prime, > any BASIC-plane code point (0xFFFF) but NOT
    * above the full Unicode range (0x10FFFF > 1000003), so
    * supplementary-plane code points can alias with two-gram prefixes; a
    * theoretical extra-collision source only, NOT a correctness issue —
    * kernel, composable twin and dd7's DuckDB oracle all share the exact
    * formula, so cross-engine parity holds for any input. Kept at 1000003
    * because changing it re-keys every recorded fingerprint. */
  val Base: Long = 1000003L

  /** (a·b) mod [[P]] for 0 ≤ a,b < P, in 64-bit arithmetic: split the
    * 128-bit product via `multiplyHigh`, then fold with 2⁶⁴ ≡ 8 and
    * 2⁶¹ ≡ 1 (mod p). hi < 2⁵⁸ so hi·8 cannot overflow; the partial sum is
    * < 2⁶² so the final fold leaves at most one subtraction. */
  def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    val t = (hi << 3) + (lo >>> 61) + (lo & P)
    val f = (t & P) + (t >>> 61)
    if (f >= P) f - P else f
  }

  /** base^e mod [[P]] by square-and-multiply (driver-side setup only). */
  def powmod(b: Long, e: Int): Long = {
    var r = 1L
    var x = b % P
    var n = e
    while (n > 0) {
      if ((n & 1) == 1) r = mulmod(r, x)
      x = mulmod(x, x)
      n >>= 1
    }
    r
  }

  /** Distinct window-minima of k-gram hashes, sorted ascending. Returns an
    * empty array when the text is shorter than one full window (k+w-1
    * chars). Positions/lengths are in Unicode code points (= DuckDB's
    * `string_split(text,'')` elements and Spark's char positions for BMP
    * text). */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val nChars = text.numChars()
    val n = nChars - k + 1 // k-gram count
    val m = n - w + 1      // window count
    if (m <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    // code points, decoded once (ASCII fast path: byte value == code point)
    val codes = new Array[Int](nChars)
    if (text.numBytes() == nChars) {
      val bytes = text.getBytes
      var i = 0
      while (i < nChars) { codes(i) = bytes(i) & 0xff; i += 1 }
    } else {
      val s = text.toString
      var ci = 0
      var i = 0
      while (i < nChars) {
        val cp = s.codePointAt(ci)
        codes(i) = cp
        ci += Character.charCount(cp)
        i += 1
      }
    }
    // rolling Karp–Rabin: h(i+1) = (h(i) − c_i·Base^(k−1))·Base + c_(i+k)
    val bk = powmod(Base, k - 1)
    val hashes = new Array[Long](n)
    var h = 0L
    var i = 0
    while (i < k) {
      val t = mulmod(h, Base) + codes(i)
      h = if (t >= P) t - P else t
      i += 1
    }
    hashes(0) = h
    i = 1
    while (i < n) {
      var t = h - mulmod(codes(i - 1), bk)
      if (t < 0) t += P
      t = mulmod(t, Base) + codes(i + k - 1)
      h = if (t >= P) t - P else t
      hashes(i) = h
      i += 1
    }
    // sliding-window minimum via monotonic deque — O(n), not O(n·w)
    val mins = new Array[Long](m)
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0
    i = 0
    while (i < n) {
      while (tail > head && hashes(dq(tail - 1)) >= hashes(i)) tail -= 1
      dq(tail) = i
      tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) mins(i - (w - 1)) = hashes(dq(head))
      i += 1
    }
    // distinct via sort+compact (primitive, no boxing)
    java.util.Arrays.sort(mins)
    var out = 1
    var j = 1
    while (j < m) {
      if (mins(j) != mins(j - 1)) { mins(out) = mins(j); out += 1 }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(mins, out))
  }
}
