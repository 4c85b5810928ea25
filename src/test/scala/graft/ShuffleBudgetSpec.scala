package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shuffle budgets: every Exchange is cluster-wide data movement, and a
  * refactor that silently adds one (a lost broadcast, a mis-keyed window,
  * an accidental repartition) is invisible to correctness tests but can
  * double a 100 TB job's cost. Pin an upper bound per representative query
  * so the plan contract is CI-enforced. Bounds are the CURRENT counts —
  * tighten or loosen only with a plan review. */
class ShuffleBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def exchanges(name: String): Int = {
    val p = Registry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
      .findAllIn(p).length
  }

  private val budgets = Seq(
    "q01_pricing_summary" -> 2,   // agg + output sort
    "q03_top_revenue_orders" -> 1, // broadcast joins; agg only (top-k needs no sort exchange)
    "q43_selective_join" -> 2,
    "ev5_asof_join" -> 2,         // ONE shuffle for the union+window, + sort
    "ev1_tumbling_window" -> 2,
    "dd2_fingerprint_dedup" -> 2, // shuffle carries the 16-byte fp, once
    "pp1_clean_corpus" -> 2,      // entire cleaning pipeline: one fp shuffle + sort
    "sm2_fixed_size_sample" -> 2, // stratum window + sort
    "ly1_zorder_layout" -> 2,     // bucket agg + sort
    "sm1_stratified_sample" -> 1, // narrow filter; sort only
    "hh1_heavy_hitters" -> 2,     // candidate-count agg + sort (tail never shuffles)
    "bp2_bpe_encode" -> 1,        // kernel encode is a pure narrow map; sort only
    "ev11_ohlc_bars" -> 2,        // one (hour,type)-keyed agg + sort
    "q46_avgqty_subquery" -> 3,   // partkey agg (threshold broadcast back) + final agg + sort
    "dd10_tfidf_cosine" -> 4,     // df agg + weight/norm agg + pair agg + sort; dims broadcast
    "q47_exists_chain" -> 3,      // semi/anti branches broadcast at test SF; agg (+2 headroom for the shuffle regime)
    // two-pass Prefix queries: the old global-window plans had fewer
    // exchanges but ONE task holding the whole domain; the extra exchanges
    // here carry bin-mass relations of ≤32 rows (stats agg, pid-local
    // window, per-bin masses, offsets) — movement measured in bytes
    "q48_equidepth_hist" -> 8,    // value agg ckpt + stats + pid window + masses + offsets + bucket agg + sort
    "ev13_scd2_history" -> 2,     // ONE user-keyed exchange feeds all three windows + sort
    "ev14_session_overlap" -> 3,  // session window + hour agg + sort
    "ev15_hourly_anomaly" -> 4,   // hourly agg + moment agg + join align + sort
    "mm3_binary_dedup" -> 2,      // digest-only agg shuffle + sort; payload never moves
    "gr2_triangles" -> 6,         // dd3 pair derivation (4) + node agg + sort; wedge joins reuse
    "ev16_ewma" -> 2,             // ONE user-keyed collect fold + sort
    "q49_running_distinct" -> 7,  // first-touch agg + day agg ckpt + two-pass prefix over the day domain + sort
    "pp10_curriculum_shards" -> 7, // quality-value agg ckpt + two-pass prefix over the quality domain + shard join + sort
    "mm4_media_neardup" -> 0,     // broadcast pair join + TakeOrdered: shuffle-free
    "mm5_resize_audit" -> 1,      // narrow byte-accounting map; sort only
    "pp11_boilerplate" -> 4,      // fp distinct-count + fp join-back + doc agg + sort
    "ev17_forward_fill" -> 2,     // ONE user-keyed LOCF window + sort
    "dd11_chunk_dedup" -> 4,      // fp first-occurrence window + doc agg + sort
    "sj1_salted_join" -> 4,       // two salted join-side hashes + agg + sort (dim hinted off broadcast)
    "sj2_salted_topk" -> 3,       // (type,salt) window + type window over ≤k·f survivors + sort
    "ev18_mad_anomaly" -> 9,     // two group-median passes (each: pid window + bin masses + triangular agg + final avg agg) + sort; type index/stats/starts checkpointed once, pass-2 bounds derived from pass-1 stats — data-bearing exchanges are the two pid shuffles
    "dd13_quality_canonical" -> 7, // dd3 pair derivation + CC tail + quality join + argmax agg + sort
    "pp12_token_budget" -> 5,      // budget agg + doc-granular two-pass prefix (stats, pid window, masses, offsets) + sort
    "ev19_time_weighted_avg" -> 2, // ONE user-keyed window feeding the agg + sort
    "pp13_split_leakage" -> 2,     // r15 pin: visible plan is split-map + sort over the LogicalRDD (achieved 1) — r16 ratchet to achieved+1 so a re-inflation to the pre-pin 5-exchange shape fails here
    "tx8_tfidf_topterms" -> 4,     // r15 TF pin: df agg + doc agg + sort over the pinned TF table (achieved 3, +1 headroom)
    "tx9_token_surprisal" -> 6,    // r15 TF pin: achieved 5 (two aggs + global total + join-back + sort), +1 headroom
    "tx10_bigram_crossent" -> 8,   // r15 shared-bigram pin: achieved 7, +1 headroom
    "tx6_vocabulary" -> 4,         // count agg + rank-range repartition + count-offsets + sort (post-ckpt visible plan)
    "dd12_dup_clusters_exact" -> 7, // CC label join-backs + size agg + sort over the checkpointed dd3 edges
    "q24_approx_count_distinct" -> 5, // r08: one register agg PER branch (fused-long-key fast path; each combines to ≤groups×512 rows map-side, so both exchanges move register tables, not rows) + estimator agg + pivot agg + sort
    "q32_approx_percentiles" -> 3)    // ONE group-keyed exchange feeds both windows; groupBy reuses its partitioning; + sort

  budgets.foreach { case (name, budget) =>
    test(s"$name stays within its shuffle budget ($budget)") {
      val n = exchanges(name)
      assert(n <= budget, s"$name now plans $n exchanges (budget $budget) — " +
        "a new shuffle appeared; review the plan before raising the budget")
    }
  }

  // ---- registry-wide single-partition-window ban -------------------------
  // A WindowExec with an empty partitionSpec moves the ENTIRE relation into
  // one task ("No Partition Defined for Window operation"); the relation may
  // be domain-bounded today, but the bound is a comment, not a contract.
  // After round 5 every former global window (q48, tx6, pp10, q49) runs the
  // two-pass Prefix form, so the engine-wide invariant is: NO registered
  // query plans an unpartitioned window. Queries whose construction runs
  // eager work (k-means training, LSH+connected components, BPE rounds,
  // persisted-index builds) are asserted through their cheap structural
  // siblings instead — the expensive part of each is collect/iteration, not
  // windows, and their final search/rank windows share the siblings' shape.
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.window.WindowExec

  private def unpartitionedWindows(p: SparkPlan): Seq[WindowExec] =
    p.collect {
      case a: AdaptiveSparkPlanExec => unpartitionedWindows(a.inputPlan)
      case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
    }.flatten ++
      p.subqueries.flatMap(unpartitionedWindows)

  test("no registered query plans a single-partition window") {
    val offenders = Registry.all
      .filterNot(r => SparkTestSession.eagerConstruction.contains(r.name))
      .flatMap { r =>
        val plan = r.fn(spark, sf).queryExecution.executedPlan
        if (unpartitionedWindows(plan).nonEmpty) Seq(r.name) else Nil
      }
    assert(offenders.isEmpty,
      s"unpartitioned WindowExec (whole relation → one task) in: " +
        offenders.mkString(", ") + " — use the two-pass Prefix form instead")
  }
}
