package graft.functions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

/** Nearest-centroid cell ids for every PQ subspace of an `array<float>`
  * vector, in ONE stable-shaped kernel: returns `array<int>` of length `m`
  * (= books.length) where entry j is
  * `argmin_i (‖books(j)(i)‖² − 2·⟨subvec(v,j), books(j)(i)⟩)`,
  * ties to the lower cell id — bit-identical to the literal composition it
  * replaces (`array_min(array(struct(normLit − 2.0·dotFast(slice(v,…),
  * centLit), i)…)).getField("cell")` per subspace; asserted element-wise by
  * SimilaritySpec):
  *
  *  - the norm term is the SAME driver-side Scala double sum
  *    (`c.map(x*x).sum`, left-associated from 0.0) the literal form folded
  *    into `lit(...)`;
  *  - the dot accumulates `(double) vFloat · (double) cFloat` left to right —
  *    [[FloatVectorDot]]'s order — against the float-cast centroid exactly
  *    as `centLit` cast each coordinate;
  *  - `dd = norm − 2.0 · dot` in double, compared with Spark SQL's double
  *    ordering (`-0.0 == 0.0`, NaN greatest — SQLOrderingUtil semantics), so
  *    argmin ties and NaN placement match `array_min`'s struct ordering;
  *  - a subspace whose sub-vector is missing (short array), length-mismatched
  *    (`strictLen`), or null-element'd yields cell 0 — the literal form's
  *    null `dd` sorted FIRST in the struct ordering for every i, so
  *    `array_min` returned cell 0 there too; a null input vector yields all
  *    zeros (every struct had null dd), so the result is never null.
  *
  * Why it exists (r16 optimization round, guide §"per-task work"/codegen):
  * the literal composition inlines m·k·sub float literals into the generated
  * source, so every Lloyd training iteration — whose codebook values differ —
  * produces NEW source and pays a janino compilation of a ~100-dot expression
  * (measured: the dominant per-iteration cost of ss6/ss4 at fixture scale).
  * Here the codebook is an object literal ([[Kernels.pqArgminCells]]),
  * held in the generated class's reference array, so the generated source
  * is byte-identical across iterations AND between training and the
  * corpus encode, and the whole-stage codegen cache compiles the kernel
  * once per query shape. Per-row work also drops: the kernel
  * indexes the input array in place instead of allocating a `slice()` copy
  * per subspace (the 100 TB encode-pass hot path).
  *
  * `strictLen`: the IVF (m=1) caller dots the WHOLE vector against 64-wide
  * centroids — a vector of any other length was a dot length-mismatch (null
  * dd → cell 0) in the literal form, so validity there is `n == sub`; the PQ
  * caller sliced, so validity is `n ≥ (j+1)·sub` per subspace.
  */
object PqKernel {

  /** Spark SQL double comparison (SQLOrderingUtil): `-0.0 == 0.0`,
    * NaN greater than everything — the ordering `array_min` used. */
  private def sqlLt(x: Double, y: Double): Boolean =
    !(x == y) && java.lang.Double.compare(x, y) < 0

  /** Cell ids of `v` (null allowed) against `books(j)(i)` (float-cast
    * centroids) with `norms(j)(i)` their double squared norms. */
  def argminCells(v: ArrayData, books: Array[Array[Array[Float]]],
      norms: Array[Array[Double]], sub: Int, strictLen: Boolean): ArrayData = {
    val m = books.length
    val cells = new Array[Int](m)
    if (v != null) {
      val n = v.numElements()
      var j = 0
      while (j < m) {
        val base = j * sub
        var bad = if (strictLen) n != sub else base + sub > n
        var t = 0
        while (!bad && t < sub) { if (v.isNullAt(base + t)) bad = true; t += 1 }
        if (!bad) {
          val bj = books(j)
          val nj = norms(j)
          var bestI = -1
          var best = 0.0
          var i = 0
          while (i < bj.length) {
            val c = bj(i)
            var s = 0.0
            var u = 0
            while (u < sub) {
              s += v.getFloat(base + u).toDouble * c(u).toDouble
              u += 1
            }
            val dd = nj(i) - 2.0 * s
            if (bestI < 0 || sqlLt(dd, best)) { best = dd; bestI = i }
            i += 1
          }
          cells(j) = bestI
        }
        j += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(cells)
  }
}
