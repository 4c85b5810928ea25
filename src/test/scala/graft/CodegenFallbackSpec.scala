package graft

import org.scalatest.funsuite.AnyFunSuite

/** Interpreted ≡ codegen for every row kernel, as CI.
  *
  * Each row kernel is one static method with two callers: the generated
  * code of the stage it is fused into (one static call, emitted by
  * Spark's `StaticInvoke`) and `StaticInvoke`'s interpreted `eval`, which
  * calls the same method by reflection when codegen is off or a stage
  * exceeds codegen's limits (graft.functions.Kernels). The body cannot
  * diverge; what can is the marshalling around the call — null
  * propagation, boxing, literal arguments, the `ArrayData` a kernel
  * returns — exactly the seam a unit test of the kernel method cannot
  * see. `FloatVectorDot`, the one hand-written expression, still keeps a
  * body per mode, and ss1 covers it.
  *
  * Mechanism: run every kernel-bearing registry query once normally and
  * once with whole-stage codegen off AND the expression codegen factory
  * forced to NO_CODEGEN (wholeStage=false alone still compiles
  * individual expressions), and require bit-identical rows.
  */
class CodegenFallbackSpec extends AnyFunSuite {
  private lazy val base = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  // every query whose plan carries a kernel, each kernel at least once:
  // md5 bits (dd5/q24/q32), minhash (dd4), winnow (dd7), BPE encode (bp2),
  // CMS probe (hh1), Bloom probe (bf1), substring count (tx7), PQ argmin
  // (ss4 with one subspace, ss6 with eight), FloatVectorDot (ss1)
  private val queries = Seq(
    "dd4_minhash_lsh", "dd5_simhash_pairs", "dd7_winnow_fingerprints",
    "bp2_bpe_encode", "hh1_heavy_hitters", "bf1_bloom_decontaminate",
    "tx7_charngram_langid", "ss1_topk_bruteforce",
    "q24_approx_count_distinct", "q32_approx_percentiles",
    "ss4_ivf_kmeans", "ss6_pq_topk")

  queries.foreach { name =>
    test(s"$name is bit-identical with codegen disabled (interpreted kernels)") {
      val hot = Registry.queries(name)(base, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(hot.nonEmpty)
      val s = base.newSession()
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = Registry.queries(name)(s, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(interpreted == hot, s"$name drifts under interpreted evaluation")
    }
  }
}
