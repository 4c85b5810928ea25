package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType, ObjectType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/** Column builders for graft's row kernels.
  *
  * Each kernel is ONE static method on a Scala object. [[call]] wraps it
  * in Spark's `StaticInvoke`: generated code emits one static call, so the
  * kernel stays fused inside whole-stage codegen, and interpreted
  * evaluation (codegen off, or a stage past codegen's limits) calls the
  * same method by reflection. The two modes run one body and agree by
  * construction; CodegenFallbackSpec runs every kernel-bearing row both
  * ways.
  *
  * Column inputs are child expressions. Per-query constants are literals:
  * primitive literals for numbers (inlined into the generated source, so
  * they are part of the query shape), `ObjectType` literals for objects
  * (merge table, codebooks, broadcast sketches). An object literal lands
  * in the generated class's reference array, not in its source, so a new
  * codebook or merge table reuses the compiled stage. Object literals
  * compare by reference: each builder builds its object arguments once
  * per call, and a call site that needs one kernel twice in a plan reuses
  * the column rather than building it twice.
  *
  * Nulls: a null column input gives a null result, except for
  * [[pqArgminCells]], whose kernel maps a null vector to cell 0 in every
  * subspace. No kernel returns null otherwise, so each column is exactly
  * as nullable as its inputs.
  *
  * Contracts are plain `require`s here, so misuse fails while the plan is
  * built, before any job runs. Only graft's own call sites reach these
  * kernels; no user SQL does.
  */
object Kernels {

  private def call(kernel: AnyRef, dataType: DataType, method: String,
      args: Seq[Expression], propagateNull: Boolean): Column =
    GraftShim.column(StaticInvoke(kernel.getClass, dataType, method, args,
      propagateNull = propagateNull, returnNullable = false))

  private def in(c: Column): Expression = GraftShim.expression(c)

  private def obj[T <: AnyRef](v: T)(implicit ct: ClassTag[T]): Expression =
    Literal(v, ObjectType(ct.runtimeClass))

  /** `array<bigint>`: the text's `numHashes` minhashes ([[MinhashKernel.sign]]). */
  def minhashSignature(text: Column, numHashes: Int): Column = {
    require(numHashes > 0, s"numHashes must be positive, got $numHashes")
    call(MinhashKernel, ArrayType(LongType, containsNull = false), "sign",
      Seq(in(text), Literal(numHashes)), propagateNull = true)
  }

  /** `array<bigint>`: the text's distinct winnowing fingerprints
    * ([[WinnowKernel.winnow]]). */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column = {
    require(k > 0 && w > 0, s"k and w must be positive, got k=$k, w=$w")
    call(WinnowKernel, ArrayType(LongType, containsNull = false), "winnow",
      Seq(in(text), Literal(k), Literal(w)), propagateNull = true)
  }

  /** The text's BPE symbol stream under the rank-ordered `merges`
    * ([[BpeEncodeKernel.encode]]). */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    call(BpeEncodeKernel, StringType, "encode",
      Seq(in(text), obj(merges.map(p => Array(p._1, p._2)).toArray)), propagateNull = true)

  /** Non-overlapping left-to-right count of `pattern` in the text
    * ([[CountOccurrences.count]]). */
  def countOccurrences(text: Column, pattern: String): Column = {
    require(pattern.nonEmpty, "pattern must be non-empty")
    call(CountOccurrences, LongType, "count",
      Seq(in(text), Literal(UTF8String.fromString(pattern), StringType)), propagateNull = true)
  }

  /** md5(text)'s first 8 digest bytes as a big-endian long ([[Md5Bits64.bits64]]). */
  def md5Bits64(text: Column): Column =
    call(Md5Bits64, LongType, "bits64", Seq(in(text)), propagateNull = true)

  /** `cms.estimateCount(item) >= threshold` ([[cmsAtLeast]]). */
  def cmsProbeAtLeast(item: Column, cms: Broadcast[CountMinSketch], threshold: Long): Column =
    call(this, BooleanType, "cmsAtLeast",
      Seq(in(item), obj(cms), Literal(threshold)), propagateNull = true)

  /** `bloom.mightContainString(item)` ([[bloomMightContain]]). */
  def bloomMightContainString(item: Column, bloom: Broadcast[BloomFilter]): Column =
    call(this, BooleanType, "bloomMightContain", Seq(in(item), obj(bloom)), propagateNull = true)

  /** `array<int>` of `books.length` nearest-cell ids of an `array<float>`
    * vector, one per subspace of `sub` dims ([[PqKernel.argminCells]]).
    * The float-cast centroids and their driver-side double norms are
    * built here, once per call. */
  def pqArgminCells(v: Column, books: Array[Array[Array[Double]]], sub: Int,
      strictLen: Boolean): Column = {
    require(books.nonEmpty && books.forall(_.nonEmpty), "pqArgminCells requires non-empty codebooks")
    val booksF = books.map(_.map(_.map(_.toFloat)))
    val norms = books.map(_.map(c => c.map(x => x * x).sum))
    call(PqKernel, ArrayType(IntegerType, containsNull = false), "argminCells",
      Seq(in(v), obj(booksF), obj(norms), Literal(sub), Literal(strictLen)), propagateNull = false)
  }

  /** The probe behind [[cmsProbeAtLeast]] (hh1's pre-shuffle filter). The
    * item is read via `UTF8String.toString`, matching how
    * `df.stat.countMinSketch` folded `java.lang.String` items, so build
    * and probe hash identical bytes. */
  def cmsAtLeast(item: UTF8String, cms: Broadcast[CountMinSketch], threshold: Long): Boolean =
    cms.value.estimateCount(item.toString) >= threshold

  /** The probe behind [[bloomMightContainString]] (bf1's pre-shuffle
    * filter); read as in [[cmsAtLeast]]. Bloom filters have no false
    * negatives, so the exact join downstream still returns exactly the
    * unfiltered join's rows. */
  def bloomMightContain(item: UTF8String, bloom: Broadcast[BloomFilter]): Boolean =
    bloom.value.mightContainString(item.toString)
}
