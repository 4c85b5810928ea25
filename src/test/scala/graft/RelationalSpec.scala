package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Relational operators: every registered query runs on sf0.001, plus
  * DataFrame-API-vs-Spark-SQL cross-checks for representative operators
  * (two independent plan constructions must agree exactly). */
class RelationalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("all registered queries execute and are deterministic across runs") {
    Registry.all.foreach { rq =>
      val a = rows(rq.fn(spark, sf))
      val b = rows(rq.fn(spark, sf))
      assert(a == b, s"${rq.name} not deterministic")
    }
  }

  private def crossCheck(name: String, sql: String): Unit = {
    val api = rows(Registry.queries(name)(spark, sf))
    val viaSql = rows(Tables.sql(spark, sf, sql))
    assert(api == viaSql, s"$name: DataFrame API != Spark SQL")
  }

  test("q01 pricing summary matches its SQL twin") {
    crossCheck("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        |round(sum(l_extendedprice),2) AS sum_base_price,
        |round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        |avg(l_quantity) AS avg_qty, count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  test("q05 semi join matches EXISTS") {
    crossCheck("q05_semi_join",
      """SELECT c_mktsegment, count(*) AS n FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
  }

  test("q13 running sum matches window SQL") {
    crossCheck("q13_running_sum",
      """SELECT o_orderkey, o_custkey,
        |round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  test("q36 distribution windows match window SQL") {
    crossCheck("q36_window_dist",
      """SELECT o_orderkey, o_orderpriority,
        |CAST(ntile(10) OVER w AS BIGINT) AS decile,
        |percent_rank() OVER w AS pct_rank,
        |cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  test("q37 merge upsert matches its SQL twin") {
    crossCheck("q37_merge_upsert",
      """WITH b AS (SELECT o_orderkey, o_orderpriority,
        |             CAST(o_totalprice AS DECIMAL(20,4)) AS o_totalprice FROM orders),
        |changes AS (SELECT o_orderkey, o_orderpriority,
        |              CAST(o_totalprice * CAST(1.1 AS DECIMAL(3,2)) AS DECIMAL(20,4)) AS o_totalprice
        |            FROM b WHERE o_orderkey % 100 = 0),
        |merged AS (SELECT * FROM changes
        |           UNION ALL
        |           SELECT o.* FROM b o ANTI JOIN changes c ON o.o_orderkey = c.o_orderkey)
        |SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(o_totalprice) AS DOUBLE) AS total
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  test("q35 unpivot matches a UNION ALL construction") {
    crossCheck("q35_unpivot",
      """WITH agg AS (SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS l_quantity,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS l_extendedprice,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS l_discount,
        |  CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS l_tax
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, total, n FROM (
        |  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS total, n FROM agg
        |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice, n FROM agg
        |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount, n FROM agg
        |  UNION ALL SELECT l_returnflag, 'l_tax', l_tax, n FROM agg)
        |ORDER BY l_returnflag, metric""".stripMargin)
  }

  test("shape sanity of fixed-size outputs") {
    assert(Registry.queries("q03_top_revenue_orders")(spark, sf).count() == 10)
    assert(Registry.queries("q14_topk")(spark, sf).count() == 10)
    assert(Registry.queries("q04_region_rollup")(spark, sf).count() == 5)
    // rollup: 3 statuses x 5 priorities = 15 leaves + 3 subtotals + 1 total
    assert(Registry.queries("q08_rollup")(spark, sf).count() == 19)
  }

  test("q24 portable HLL within error bounds of exact; built-in HLL++ agrees") {
    val exact = Tables.sql(spark, sf,
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS p,
        |count(DISTINCT l_orderkey) AS o FROM lineitem GROUP BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 3×rsd for m=512 registers: 3·1.04/√512 ≈ 0.138
    val bound = 0.15
    val q24rows = Registry.queries("q24_approx_count_distinct")(spark, sf).collect()
    assert(q24rows.nonEmpty, "q24 returned no rows — bound loop would pass vacuously")
    q24rows.foreach { r =>
      val (p, o) = exact(r.getString(0))
      assert(math.abs(r.getLong(1) - p).toDouble / p < bound,
        s"${r.getString(0)}: portable HLL nd_part ${r.getLong(1)} vs exact $p")
      assert(math.abs(r.getLong(2) - o).toDouble / o < bound,
        s"${r.getString(0)}: portable HLL nd_order ${r.getLong(2)} vs exact $o")
    }
    // the native HLL++ sketch stays exercised: same bound vs exact
    Tables.sql(spark, sf,
      """SELECT l_returnflag, approx_count_distinct(l_partkey) AS p,
        |approx_count_distinct(l_orderkey) AS o FROM lineitem GROUP BY 1""".stripMargin)
      .collect().foreach { r =>
        val (p, o) = exact(r.getString(0))
        assert(math.abs(r.getLong(1) - p).toDouble / p < bound)
        assert(math.abs(r.getLong(2) - o).toDouble / o < bound)
      }
  }

  test("approx percentiles land near the exact ones") {
    // the right bound for a SAMPLE percentile is on RANK, not value: with
    // ~n·10% samples the estimate's true rank is within 3·√(p(1−p)/s) of p
    // (s≈200 at sf0.001 ⇒ ±0.105 for p50, ±0.046 for p95); observed 0.038
    // and 0.022. A value bound would conflate sampling error with the
    // price distribution's local slope.
    def rankOf(flag: String, v: Double): Double =
      Tables.sql(spark, sf,
        s"""SELECT CAST(count(CASE WHEN l_extendedprice <= $v THEN 1 END) AS DOUBLE)
           |/ count(*) FROM lineitem WHERE l_returnflag = '$flag'""".stripMargin)
        .collect()(0).getDouble(0)
    val q32rows = Registry.queries("q32_approx_percentiles")(spark, sf).collect()
    assert(q32rows.nonEmpty, "q32 returned no rows — bound loop would pass vacuously")
    q32rows.foreach { r =>
      assert(math.abs(rankOf(r.getString(0), r.getDouble(1)) - 0.5) < 0.11,
        s"${r.getString(0)}: ap50 rank off")
      assert(math.abs(rankOf(r.getString(0), r.getDouble(2)) - 0.95) < 0.05,
        s"${r.getString(0)}: ap95 rank off")
    }
    // the native approx_percentile sketch stays exercised: accuracy 1000
    // on ~2000-row groups is near-exact, so a tight value bound holds
    val exact = Registry.queries("q31_percentiles")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    Tables.sql(spark, sf,
      """SELECT l_returnflag,
        |approx_percentile(l_extendedprice, 0.5, 1000) AS ap50,
        |approx_percentile(l_extendedprice, 0.95, 1000) AS ap95
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)
      .collect().foreach { r =>
        val (p50, p95) = exact(r.getString(0))
        assert(math.abs(r.getDouble(1) - p50) / p50 < 0.05)
        assert(math.abs(r.getDouble(2) - p95) / p95 < 0.05)
      }
  }

  test("range frame: trailing window bounded by value, not row count") {
    val out = Registry.queries("q40_range_frame")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_in_window") >= 1) // frame always includes self
      assert(r.getAs[Double]("trailing_spend") > 0.0)
    }
  }

  test("corr stats from decimal sums agree with Spark's native corr to float tolerance") {
    val native = Tables.sql(spark, sf,
      """SELECT l_returnflag, corr(l_quantity, l_extendedprice) AS c,
        |stddev_samp(l_quantity) AS sd FROM lineitem GROUP BY l_returnflag""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    Registry.queries("q41_corr_stats")(spark, sf).collect().foreach { r =>
      val (c, sd) = native(r.getString(0))
      assert(math.abs(r.getAs[Double]("corr_qty_price") - c) < 1e-9)
      assert(math.abs(r.getAs[Double]("stddev_qty") - sd) < 1e-9)
    }
  }

  test("repetition filter: metrics in [0,1], filter binds on this corpus") {
    val out = Registry.queries("pp8_repetition_filter")(spark, sf).collect()
    val total = Tables(spark, sf, "documents").count()
    assert(out.nonEmpty && out.length < total, s"kept ${out.length} of $total")
    out.foreach { r =>
      Seq("dup_word_frac", "dup_5gram_frac", "top_bigram_frac").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c = $v")
      }
      assert(r.getAs[Double]("top_bigram_frac") <= 0.08)
    }
  }

  test("redaction masks every digit run and audits the count") {
    val out = Registry.queries("pp9_redact_pii")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(!r.getAs[String]("redacted").exists(_.isDigit))
      // payload always carries uid=<digits> plus the props JSON int
      assert(r.getAs[Long]("n_redactions") >= 2)
    }
  }

  test("tfidf top terms: exactly k ranked terms per doc, df within corpus bounds") {
    val out = Registry.queries("tx8_tfidf_topterms")(spark, sf).collect()
    val n = Tables(spark, sf, "documents").count()
    val perDoc = out.groupBy(_.getAs[Long]("doc_id"))
    perDoc.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to rs.length).toSeq)
      assert(rs.length <= 3)
    }
    out.foreach(r => assert(r.getAs[Long]("df") >= 1 && r.getAs[Long]("df") <= n))
  }

  test("gap fill: grid is dense, zero rows flagged, event total preserved") {
    val out = Registry.queries("ev7_gapfill")(spark, sf).collect()
    val types = out.map(_.getAs[String]("event_type")).distinct.length
    val hours = out.map(_.getAs[java.sql.Timestamp]("w_start")).distinct.length
    assert(out.length == types * hours) // every (hour, type) cell exists
    assert(out.filter(_.getAs[Boolean]("is_gap")).forall(_.getAs[Long]("n") == 0))
    val totalEvents = Tables(spark, sf, "events").count()
    assert(out.map(_.getAs[Long]("n")).sum == totalEvents)
  }

  test("retention: offset-0 equals cohort size and bounds every later offset") {
    val out = Registry.queries("ev10_retention")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty && out.forall(_._2 >= 0))
    val byCohort = out.groupBy(_._1)
    val cohortSizes = byCohort.map { case (c, rows) =>
      c -> rows.find(_._2 == 0L).map(_._3).getOrElse(0L)
    }
    byCohort.foreach { case (c, rows) =>
      assert(rows.forall(_._3 <= cohortSizes(c)), s"cohort $c exceeds its size")
    }
    // cohort sizes partition the user base
    val users = Tables(spark, sf, "events").select("user_id").distinct().count()
    assert(cohortSizes.values.sum == users)
  }

  test("funnel stages are monotone non-increasing") {
    val out = Registry.queries("ev8_funnel")(spark, sf).collect()
      .sortBy(_.getAs[Long]("stage")).map(_.getAs[Long]("n_users"))
    assert(out.length == 3)
    assert(out(0) >= out(1) && out(1) >= out(2) && out(0) > 0)
  }

  test("latest-event compaction keeps exactly one most-recent row per user") {
    val out = Registry.queries("ev9_latest_event")(spark, sf).collect()
    val users = Tables(spark, sf, "events").select("user_id").distinct().count()
    assert(out.length == users)
    val maxTs = Tables(spark, sf, "events")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts"))).as("m"))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("m")).toMap
    out.foreach(r => assert(r.getAs[Long]("ts_us") == maxTs(r.getAs[Long]("user_id"))))
  }

  test("token surprisal covers every doc with positive mean surprisal") {
    val out = Registry.queries("tx9_token_surprisal")(spark, sf).collect()
    assert(out.length == Tables(spark, sf, "documents").count())
    out.foreach(r => assert(r.getAs[Double]("avg_surprisal") > 0.0))
  }

  test("equi-depth histogram: buckets partition all rows into ordered, bounded ranges") {
    val h = Registry.queries("q48_equidepth_hist")(spark, sf).collect()
    assert(h.nonEmpty && h.length <= 16)
    assert(h.map(_.getAs[Long]("n_rows")).sum == Tables(spark, sf, "orders").count())
    // bucket ids ascend and value ranges are disjoint and ordered
    val ids = h.map(_.getAs[Long]("bucket")).toSeq
    assert(ids == ids.sorted && ids.distinct == ids)
    h.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Double]("hi") < hi.getAs[Double]("lo"))
      case _ => ()
    }
    h.foreach(r => assert(r.getAs[Double]("lo") <= r.getAs[Double]("hi")))
  }

  test("scd2 history: versions are contiguous half-open intervals per user") {
    val rows = Registry.queries("ev13_scd2_history")(spark, sf).collect()
      .groupBy(_.getAs[Long]("user_id"))
    assert(rows.nonEmpty)
    rows.values.foreach { vs =>
      val sorted = vs.sortBy(_.getAs[Long]("version"))
      assert(sorted.map(_.getAs[Long]("version")).toSeq == (1L to sorted.length))
      // each version ends exactly where the next begins; only the last is open
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to_us") == b.getAs[Long]("valid_from_us"))
          assert(!a.getAs[Boolean]("is_current"))
        case _ => ()
      }
      assert(sorted.last.isNullAt(sorted.last.fieldIndex("valid_to_us")))
      assert(sorted.last.getAs[Boolean]("is_current"))
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("ev18: two-pass group median/MAD equals the window form, full rows bit-exact") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, sf, "events").select("event_id", "event_type", "value")
    def medians(df: DataFrame, as: String): DataFrame = {
      val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .filter(col("rn") === floor((col("n") + lit(1)) / lit(2)) ||
          col("rn") === floor((col("n") + lit(2)) / lit(2)))
        .groupBy("event_type").agg(avg("value").as(as))
    }
    val med = medians(ev, "med")
    val dv = ev.join(med, "event_type").withColumn("dev", abs(col("value") - col("med")))
    val mad = medians(
      dv.select(col("event_id"), col("event_type"), col("dev").as("value")), "mad")
    val expected = dv.join(mad, "event_type")
      .filter(col("dev") > col("mad") * lit(4.4478))
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("med"), 4).as("med"), round(col("mad"), 4).as("mad"))
      .collect().map(_.toString).sorted.toSeq
    val got = Registry.queries("ev18_mad_anomaly")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected)
  }

  test("ev18: hand-computed odd and even group sizes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // odd: median 2, MAD = median(1,0,98) = 1 → only 100 deviates > 4.4478
    // even: median 2.5, devs (1.5,.5,.5,97.5) → MAD = (0.5+1.5)/2 = 1
    val ev = Seq(
      (1L, "odd", 1.0), (2L, "odd", 2.0), (3L, "odd", 100.0),
      (4L, "even", 1.0), (5L, "even", 2.0), (6L, "even", 3.0), (7L, "even", 100.0))
      .toDF("event_id", "event_type", "value")
    val out = graft.operators.Events.madAnomaliesOf(ev).collect()
    assert(out.map(_.getAs[Long]("event_id")).toSeq == Seq(7L, 3L))
    val byId = out.map(r => r.getAs[Long]("event_id") ->
      (r.getAs[Double]("med"), r.getAs[Double]("mad"))).toMap
    assert(byId(3L) == ((2.0, 1.0)))
    assert(byId(7L) == ((2.5, 1.0)))
  }

  test("ev19: time-weighted average equals a sequential per-user reference") {
    import org.apache.spark.sql.functions._
    val raw = Tables(spark, sf, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = raw.groupBy(_._1).map { case (uid, evs) =>
      val ordered = evs.sortBy(e => (e._3, e._2))
      // mirror the engine's decimal semantics: value at scale 4 (Spark's
      // double→decimal cast rounds HALF_UP), exact µs deltas
      val num = ordered.zip(ordered.tail).map { case (a, b) =>
        BigDecimal(a._4).setScale(4, BigDecimal.RoundingMode.HALF_UP) *
          BigDecimal(b._3 - a._3)
      }.sum
      val span = if (ordered.length < 2) 0L else ordered.last._3 - ordered.head._3
      uid -> (ordered.length.toLong, span,
        if (span > 0) Some(num.toDouble / span.toDouble) else None)
    }
    val got = Registry.queries("ev19_time_weighted_avg")(spark, sf).collect()
    assert(got.nonEmpty && got.length == expected.size)
    got.foreach { r =>
      val (n, span, twa) = expected(r.getAs[Long]("user_id"))
      assert(r.getAs[Long]("n_events") == n)
      assert(r.getAs[Long]("span_us") == span)
      twa match {
        case Some(v) => assert(r.getAs[Double]("twa") == v)
        case None => assert(r.isNullAt(r.fieldIndex("twa")))
      }
    }
  }

  test("ev19: single-event users get NULL span/twa; equal-timestamp users get 0 span") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, 1000000L, 5.0),                            // single event
      (2L, 20L, 1000000L, 3.0), (2L, 21L, 1000000L, 7.0),  // two events, same ts
      (3L, 30L, 1000000L, 2.0), (3L, 31L, 3000000L, 8.0))  // genuine interval
      .toDF("user_id", "event_id", "ts_us", "value")
    val out = graft.operators.Events.timeWeightedAvgOf(ev).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).isNullAt(out(1L).fieldIndex("span_us")), "single event must have NULL span")
    assert(out(1L).isNullAt(out(1L).fieldIndex("twa")))
    assert(out(2L).getAs[Long]("span_us") == 0L, "equal timestamps give a 0 (not NULL) span")
    assert(out(2L).isNullAt(out(2L).fieldIndex("twa")), "0 span cannot have a twa")
    assert(out(3L).getAs[Long]("span_us") == 2000000L)
    // only the first value is held over the 2s interval
    assert(out(3L).getAs[Double]("twa") == 2.0)
  }

  test("ev19: the NULL-on-overflow rule holds under the live ANSI default") {
    import spark.implicits._
    // |value| >= 10^10 does not fit DECIMAL(14,4): the documented rule
    // drops that interval from the integral while its dt still extends
    // the span. Written with try_cast/try_sum so it holds whether the
    // session runs ANSI (this build's default — a plain cast would THROW
    // here) or legacy mode; the streaming twin implements the same rule,
    // so this is also the stream≡batch edge the fixture can't reach.
    val ev = Seq(
      (1L, 10L, 1000000L, 1.0e10),                         // overflowing head
      (1L, 11L, 3000000L, 4.0),
      (1L, 12L, 4000000L, 6.0))
      .toDF("user_id", "event_id", "ts_us", "value")
    val r = graft.operators.Events.timeWeightedAvgOf(ev).collect()(0)
    assert(r.getAs[Long]("span_us") == 3000000L,
      "the overflowed interval's dt must still extend the span")
    // integral = 4.0 * 1s (the overflowed first interval contributes 0)
    assert(r.getAs[Double]("twa") == 4.0e6 / 3.0e6)
  }

  test("pp12: selection is exactly the greedy quality-order prefix within budget") {
    val out = Registry.queries("pp12_token_budget")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("quality"), r.getAs[Long]("cum_tokens"), r.getAs[Boolean]("selected")))
    val budget = out.map(_._2).sum / 4
    val ordered = out.sortBy(r => (-r._3, r._1))
    var run = 0L
    ordered.foreach { r =>
      run += r._2
      assert(r._4 == run, s"doc ${r._1} cum_tokens ${r._4} != sequential $run")
      assert(r._5 == (r._4 <= budget))
    }
    val sel = ordered.takeWhile(_._5)
    assert(sel.nonEmpty && sel.map(_._2).sum <= budget)
    // the boundary is tight: the first unselected doc would overflow
    ordered.drop(sel.length).headOption
      .foreach(n => assert(sel.map(_._2).sum + n._2 > budget))
  }

  test("pp13: leak set is exactly dd3's pairs whose endpoints straddle the pp2 split") {
    val split = Registry.queries("pp2_hash_split")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    val pairs = Registry.queries("dd3_jaccard_pairs")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
    val expected = pairs.filter { case (a, b, _) => split(a) != split(b) }
      .map { case (a, b, j) => (a, b, j, split(a), split(b)) }.toSeq
    val got = Registry.queries("pp13_split_leakage")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"),
        r.getAs[String]("split_a"), r.getAs[String]("split_b"))).toSeq
    assert(expected.nonEmpty, "fixture must contain at least one leaking near-dup pair")
    assert(got == expected)
  }

  test("dd13: exactly one keep per cluster, and it has the cluster's best quality") {
    val out = Registry.queries("dd13_quality_canonical")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Double]("quality"), r.getAs[Boolean]("keep")))
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (cid, members) =>
      val kept = members.filter(_._4)
      assert(kept.length == 1, s"cluster $cid keeps ${kept.length} docs")
      val best = members.minBy(m => (-m._3, m._1))
      assert(kept.head._1 == best._1, s"cluster $cid kept ${kept.head._1}, best is ${best._1}")
    }
    // clusters must agree with dd12's (same edge set, same CC engine)
    val dd12 = Registry.queries("dd12_dup_clusters_exact")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    out.foreach { case (doc, cid, _, _) => assert(dd12(doc) == cid) }
  }
}
