package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties that make these operators survive
  * a 100 TB scale-up, checked against the actual physical plans so a
  * regression (lost pushdown, surprise shuffle, broadcast flip) fails CI.
  */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def plan(name: String): String =
    Registry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q01: the shipdate filter reaches the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"))
  }

  test("q02: column pruning — scan reads only the 5 needed of 11 columns") {
    val p = plan("q02_filter_project")
    // toString truncates long schemas; the prefix is enough to prove the
    // scan was pruned to the needed columns (full lineitem has 11)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double"))
    assert(!p.contains("l_shipdate"))
  }

  test("q24: each HLL scan branch prunes lineitem to its 2 columns") {
    // the portable HLL reads lineitem twice (union'd branches, one per
    // hashed column); each branch must prune to (l_returnflag + its own
    // key) — a branch reading both keys, or any other column, pays the
    // full-width scan twice at 100 TB
    val p = plan("q24_approx_count_distinct")
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_returnflag:string>"),
      "partkey branch not pruned to its 2 columns")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>"),
      "orderkey branch not pruned to its 2 columns")
  }

  test("q32: the sample percentile scan prunes to the 4 needed columns") {
    val p = plan("q32_approx_percentiles")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_extendedprice:double,l_returnflag:string>"),
      "sample-percentile scan reads more than (rowkey cols, value, group)")
  }

  test("q03: top-k plans TakeOrderedAndProject (no global sort) over broadcast joins") {
    val p = plan("q03_top_revenue_orders")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q14: limit+order never globally sorts") {
    assert(plan("q14_topk").contains("TakeOrderedAndProject"))
  }

  test("dd7: winnowing kernel plan has no hash-partition shuffle (narrow map + output sort only)") {
    val p = plan("dd7_winnow_fingerprints")
    assert(p.contains("winnow_fingerprints"), p.take(500))
    // the per-character shuffle of the old formulation is gone: the only
    // exchange left is the range partitioning for the output orderBy
    assert(!p.contains("Exchange hashpartitioning"), p.take(800))
  }

  test("q35: aggregation is pushed through the unpivot (expand above the agg, not below)") {
    val p = plan("q35_unpivot")
    val expand = p.indexOf("Expand")
    val agg = p.lastIndexOf("HashAggregate")
    // plan prints top-down: the Expand (unpivot) must sit ABOVE the final
    // aggregate, i.e. melt the 3-row aggregate, not the fact table
    assert(expand >= 0 && agg >= 0 && expand < agg, s"expand@$expand agg@$agg")
  }

  test("pp1: cleaning pipeline shuffles on the md5 fingerprint, never the text") {
    val p = plan("pp1_clean_corpus")
    // the dedup exchange is keyed by the 16-byte fingerprint...
    assert(p.contains("hashpartitioning(fp"), p.take(800))
    // ...and quality/lang filters run before any exchange (narrow map over
    // the scan), so only surviving docs are ever shuffled
    val firstExchange = p.indexOf("Exchange")
    val firstFilter = p.indexOf("Filter")
    assert(firstFilter > firstExchange, // plan prints top-down: filter deeper = later index
      s"filter@$firstFilter exchange@$firstExchange")
  }

  test("q04: both dimension joins broadcast — no shuffle of the fact side") {
    val p = plan("q04_region_rollup")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("partitioned write enables partition pruning on read") {
    Scratch.withTree("graft-part") { tree =>
      val dir = new java.io.File(tree, "events").getPath
      graft.sinks.Sinks.writeDir(
        Tables(spark, sf, "events"), dir, graft.sinks.Sinks.Parquet, partitionBy = Seq("event_type"))
      val read = spark.read.parquet(dir).filter(col("event_type") === "purchase")
      val p = read.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [isnotnull(event_type"), p.take(500))
      val expected = Tables(spark, sf, "events")
        .filter(col("event_type") === "purchase").count()
      assert(read.count() == expected)
    }
  }

  test("float_vector_dot is callable from SQL and codegen'd") {
    graft.functions.VectorFunctions.registerSql(spark)
    Tables(spark, sf, "embeddings").createOrReplaceTempView("emb_sql")
    val df = spark.sql(
      "SELECT vec_id, float_vector_dot(embedding, embedding) AS sq FROM emb_sql ORDER BY vec_id LIMIT 5")
    val got = df.collect()
    assert(got.length == 5 && got.forall(_.getDouble(1) > 0))
  }

  test("bucketed co-located join eliminates the shuffle entirely") {
    Scratch.withTree("graft-warehouse") { wh =>
      val n = 8
      // repartition on the bucket key BEFORE bucketBy: one file per bucket,
      // which is the condition under which the scan also reports the sortBy
      // ordering and the join needs no Sort either (asserted below)
      Tables(spark, sf, "orders").repartition(n, col("o_orderkey")).write
        .bucketBy(n, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/orders_b").mode("overwrite").saveAsTable("orders_b")
      Tables(spark, sf, "lineitem").repartition(n, col("l_orderkey")).write
        .bucketBy(n, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/lineitem_b").mode("overwrite").saveAsTable("lineitem_b")
      try {
        val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        // scan-reported sortBy ordering is opt-in since Spark 3 (unsafe when a
        // bucket holds several files; the repartition above guarantees one)
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        try {
          val joined = spark.table("lineitem_b")
            .join(spark.table("orders_b"),
              col("l_orderkey") === col("o_orderkey"))
            .groupBy("l_orderkey")
            .agg(count(lit(1)).as("n"))
          val p = joined.queryExecution.executedPlan.toString
          assert(p.contains("SortMergeJoin"))
          assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"),
            s"unexpected shuffle in bucketed join:\n${p.take(800)}")
          // one file per bucket + sortBy => the scan itself is ordered on the
          // join key: the merge join runs with NO Sort operator either — the
          // full shuffle-free AND sort-free co-located fact-fact join
          assert(!p.contains("Sort "),
            s"bucketed sortBy ordering was not used, join re-sorts:\n${p.take(800)}")
          assert(joined.count() > 0)
        } finally {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
          spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
        }
      } finally {
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
      }
    }
  }

  test("cost-based join reorder: with column stats, the selective dimension joins before the fact") {
    Scratch.withTree("graft-cbo-wh") { wh =>
      for (t <- Seq("lineitem", "orders", "customer")) {
        Tables(spark, sf, t).write.mode("overwrite")
          .option("path", s"$wh/${t}_s").saveAsTable(s"${t}_s")
        spark.sql(s"ANALYZE TABLE ${t}_s COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      import org.apache.spark.sql.catalyst.plans.logical.Join
      def innermostJoinTables(cbo: Boolean): Seq[String] = {
        spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", cbo.toString)
        val q = spark.sql(
          """SELECT c.c_mktsegment, count(*) AS n
            |FROM lineitem_s l
            |JOIN orders_s o ON l.l_orderkey = o.o_orderkey
            |JOIN customer_s c ON o.o_custkey = c.c_custkey
            |WHERE c.c_mktsegment = 'BUILDING'
            |GROUP BY c.c_mktsegment""".stripMargin)
        val joins = q.queryExecution.optimizedPlan.collect { case j: Join => j }
        joins.last.collectLeaves().map(_.toString.split('[').head.trim)
      }
      try {
        // syntactic left-deep order without statistics-based planning:
        // the fact-fact (lineitem ⋈ orders) join runs first
        val off = innermostJoinTables(cbo = false)
        assert(off.exists(_.contains("lineitem_s")), s"unexpected baseline order: $off")
        // with ANALYZE'd column stats + CBO, the reorderer joins the
        // filter-reduced customer dimension against orders FIRST, so the
        // expensive fact join consumes an already-reduced input — the
        // stats-driven decision that matters most at 100 TB
        val on = innermostJoinTables(cbo = true)
        assert(on.exists(_.contains("customer_s")) && on.exists(_.contains("orders_s")),
          s"CBO did not reorder the selective dimension first: $on")
      } finally {
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        for (t <- Seq("lineitem", "orders", "customer"))
          spark.sql(s"DROP TABLE IF EXISTS ${t}_s")
      }
    }
  }

  test("q43: runtime Bloom filter pushes dimension selectivity onto the fact scan (shuffle-join regime)") {
    // At this corpus size q43 correctly broadcasts; when the filtered
    // dimension outgrows broadcast at real scale, Spark's InjectRuntimeFilter
    // builds a bloom from the selective side and applies might_contain on the
    // fact side BEFORE its shuffle. Force the shuffle regime and assert the
    // bloom is injected — the 100 TB shape of this query.
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val p = Registry.queries("q43_selective_join")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("might_contain"),
        s"expected a runtime bloom filter on the fact side:\n${p.take(1200)}")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("q45: lateral top-n decorrelates to a ranked join — no per-row nested loop") {
    val p = plan("q45_lateral_topn")
    // Catalyst rewrites the correlated LIMIT subquery into a window/rank
    // over a single join; a NestedLoop/Cartesian here would be a per-row
    // re-execution and die at scale
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lateral was not decorrelated:\n${p.take(1200)}")
  }

  test("q46: correlated aggregate subquery decorrelates — no per-row nested loop") {
    val p = plan("q46_avgqty_subquery")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"aggregate subquery was not decorrelated:\n${p.take(1200)}")
    // the rewrite is one partkey-keyed aggregation joined back to the fact
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
  }

  test("q43 default regime broadcasts the selective dimension") {
    val p = Registry.queries("q43_selective_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(o_orderpriority,1-URGENT)"))
  }

  // dd3/dd10's exact token self-joins are Σ_w df(w)² — safe at the ~500-doc
  // sample bound, but the dfCap prefix filter is what makes the exact forms
  // safe at ANY sample size: tokens with df > K never reach the pair join,
  // bounding its input to K·(total tokens), linear in the corpus. The cap
  // must (a) actually bound the join input and (b) only ever SHRINK the
  // result (lower-bound similarity ⇒ subset under a ≥-threshold).
  test("dd3/dd10 dfCap: join input is df-bounded and output is a subset of the exact result") {
    import graft.operators.Dedup
    // the fixture's synthetic vocabulary is tiny and hot (31 tokens, df
    // 25–415 in the dd3 sample): 404 drops the 3 hottest tokens while
    // leaving a non-empty capped result — real dropping, non-trivial subset
    val cap = 404L
    // (a) the capped plans carry the df ≤ cap filter in front of the join
    for (df <- Seq(
        Dedup.jaccardPairs(spark, sf, dfCap = cap),
        Dedup.tfidfCosinePairs(spark, sf, dfCap = cap))) {
      val p = df.queryExecution.optimizedPlan.toString
      assert(p.contains(s"<= $cap"), s"df-cap filter missing from plan:\n${p.take(800)}")
    }
    // (a') re-derive the bound the filter enforces: no token surviving the
    // cap has df > cap in the sampled corpus
    val docs = Tables(spark, sf, "documents")
    val m = math.max(1L, docs.count() / 500)
    val maxDf = docs.filter(col("doc_id") % m === 0)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap)
      .agg(max("df")).collect()(0).getLong(0)
    assert(maxDf <= cap)
    // (b) subset + lower-bound: every capped pair appears in the exact
    // result with a similarity at least as large
    def pairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exactJ = pairs(Dedup.jaccardPairs(spark, sf))
    val cappedJ = pairs(Dedup.jaccardPairs(spark, sf, dfCap = cap))
    // the cap must have exercised real dropping: strictly fewer pairs than
    // exact, but not the degenerate empty set
    assert(cappedJ.nonEmpty && cappedJ.size < exactJ.size,
      s"cap did not bite: capped ${cappedJ.size} vs exact ${exactJ.size}")
    assert(cappedJ.keySet.subsetOf(exactJ.keySet),
      s"capped dd3 produced pairs absent from the exact result: ${cappedJ.keySet -- exactJ.keySet}")
    cappedJ.foreach { case (k, v) => assert(v <= exactJ(k) + 1e-4, s"$k: capped $v > exact ${exactJ(k)}") }
    val exactC = pairs(Dedup.tfidfCosinePairs(spark, sf))
    val cappedC = pairs(Dedup.tfidfCosinePairs(spark, sf, dfCap = cap))
    assert(cappedC.keySet.subsetOf(exactC.keySet),
      s"capped dd10 produced pairs absent from the exact result: ${cappedC.keySet -- exactC.keySet}")
    cappedC.foreach { case (k, v) => assert(v <= exactC(k) + 1e-4, s"$k: capped $v > exact ${exactC(k)}") }
  }
}
