package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{expr, lit, shiftrightunsigned}
import org.apache.spark.unsafe.types.UTF8String

/** The engine-portable md5→integer idiom shared by the portable sketches
  * (simhash's h60, q24's HLL hash, q32's sample membership): the digest's
  * first 15 hex digits parsed as a 60-bit BIGINT. Load-bearing VALUES —
  * every DuckDB oracle re-derives the identical number with the per-digit
  * strpos parse ([[graft.Registry]].hexSlice) over its own `md5` hex
  * string, so the bit positions taken here must never drift per call site.
  *
  * Since r08 the Spark side computes the value with a row kernel
  * ([[Md5Bits64]]) straight from the DIGEST BYTES: hex digit i of the md5
  * string is nibble i of the digest, so digits 1–16 ARE the first 8 bytes
  * big-endian — no 32-char hex string materialization, no base-16 conv
  * parse (measured ~0.4 s of q24's sf0.1 cost). The SQL-built-ins
  * formulation (`conv(substr(md5(x), 1, 15), 16, 10)`) remains the
  * documented definition and the oracle's derivation; the per-row hash
  * compare against the unchanged oracles proves the kernel's value
  * identity on every row of every consumer. */
object PortableHash {

  /** 60-bit value of md5(`input`)'s hex digits 1–15. `input` is a column
    * NAME (or SQL expression) interpolated into the expression tree.
    * ≡ `CAST(conv(substr(md5(input), 1, 15), 16, 10) AS BIGINT)`. */
  def md5Hex60(input: String): Column =
    shiftrightunsigned(bits64(input), 4)

  /** The 16th (last-of-16) hex digit of md5(`input`) — simhash's 4-bit
    * tail beyond the 60-bit slice. ≡ `conv(substr(md5(input), 16, 1), 16,
    * 10)`. Shares ONE digest with [[md5Hex60]] on the same input:
    * both build the identical [[Md5Bits64]] call, which whole-stage
    * codegen's subexpression elimination evaluates once. */
  def md5HexDigit16(input: String): Column =
    bits64(input).bitwiseAND(lit(15L))

  /** Hex digits 1–16 as one signed long (digest bytes 0–7, big-endian —
    * negative when digit 1 ≥ 8; consumers shift/mask, which is
    * sign-agnostic where it must be). */
  private def bits64(input: String): Column = Kernels.md5Bits64(expr(input))
}

/** The first 8 bytes of md5(string) as a big-endian long — the integer
  * value of the digest's hex digits 1–16 ([[Kernels.md5Bits64]]). One
  * static call per row inside whole-stage codegen; deterministic, so
  * identical calls are shared by subexpression elimination (dd5 derives
  * both its h60 and d15 from one digest). */
object Md5Bits64 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def bits64(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val dig = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v
  }
}
