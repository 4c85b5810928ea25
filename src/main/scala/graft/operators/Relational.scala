package graft.operators

import graft.Ckpt.PinOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The relational operator surface.
  *
  * The reference implements none of these itself — it forwards the SQL text
  * verbatim to MySQL/PG/SQLite (reference src/main.rs:29 → src/lib.rs:37-43,
  * SURVEY.md §2.2). Here each category is expressed with the
  * DataFrame/Dataset API so Catalyst owns optimization: filters and column
  * selections below all reach the parquet scan (PushedFilters/ReadSchema),
  * small dimensions are broadcast explicitly, and large joins/aggregations
  * shuffle on their natural keys only once.
  *
  * Determinism contract (for the DuckDB oracle hash-compare): every query
  * has a total ORDER BY; doubles that result from multi-row aggregation are
  * `round(…, 2)`; rank/top-k ordering keys are either exact (ints, stored
  * doubles compared without arithmetic) or rounded before ranking, with an
  * id tie-break.
  */
object Relational {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** Money sums accumulate in DECIMAL, not double: at 100 TB a double sum's
    * accumulated error exceeds a cent (observed at the 10× stress scale:
    * 6e10-magnitude revenue differed from the sequential oracle in the 2nd
    * decimal), while decimal sums are exact, order-insensitive, and
    * identical on every engine. Rounded (a no-op beyond scale 2→2) and cast
    * to double only for output. */
  private def decMoney(c: Column): Column = c.cast("decimal(18,2)")
  private val revenueDec: Column =
    decMoney(col("l_extendedprice")) * (lit(1).cast("decimal(3,2)") - decMoney(col("l_discount")))
  private def sumMoney(c: Column): Column = sum(decMoney(c)).cast("double")
  private def sumRevenue: Column = round(sum(revenueDec), 2).cast("double")

  /** TPC-H Q1-style pricing summary: scan → filter (pushed to parquet) →
    * hash aggregate (partial map-side + final). One shuffle on the 2-column
    * group key; at 100 TB this stays the textbook plan.
    */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        sumMoney(col("l_extendedprice")).as("sum_base_price"),
        sumRevenue.as("sum_disc_price"),
        // unrounded: integer-ratio (sum and count of whole-number quantities
        // are exact) — identical division on both engines; round() at a
        // .xx5 boundary is not (see q02 note)
        avg("l_quantity").as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Filter + projection only — verifies pushdown/pruning path. */
  def q02FilterProject(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_quantity") >= 10 && col("l_quantity") <= 20 && col("l_discount") > 0.05)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        // unrounded on purpose: the same two IEEE ops run on both engines,
        // so the raw double is bit-identical, while round() at half-cent
        // boundaries is not (Spark HALF_UP on decimal string vs DuckDB
        // float rounding)
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("l_orderkey", "l_linenumber")

  /** TPC-H Q3-style 3-way join + agg + top-k. customer is small → broadcast;
    * orders⋈lineitem is the big equi-join and shuffles on orderkey once.
    * Ranking is on the *rounded* revenue with orderkey tie-break, so the
    * top-10 cut is deterministic across engines.
    */
  def q03TopRevenueOrders(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, d, "orders")
    val l = t(s, d, "lineitem")
    broadcast(c).join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(o("o_orderkey").as("o_orderkey"))
      .agg(sumRevenue.as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Star-join rollup through two broadcast dims (nation, region). */
  def q04RegionCustomerRollup(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    val n = t(s, d, "nation")
    val r = t(s, d, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(r("r_name").as("r_name"))
      .agg(count(lit(1)).as("n_customers"), sumMoney(col("c_acctbal")).as("total_acctbal"))
      .orderBy("r_name")
  }

  /** Left-semi join (EXISTS). */
  def q05SemiJoin(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    val o = t(s, d, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** Left-anti join (NOT EXISTS): customers with no order in H1'1995. */
  def q06AntiJoin(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    val o = t(s, d, "orders")
      .filter(col("o_orderdate") < lit("1995-07-01").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  /** DISTINCT (shuffle-dedup on the pair). */
  def q07Distinct(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select("c_mktsegment", "c_nationkey").distinct()
      .orderBy("c_mktsegment", "c_nationkey")

  /** ROLLUP grouping hierarchy. NULLS FIRST on both sides (Spark's asc
    * default) — DuckDB defaults to NULLS LAST, so the oracle says it
    * explicitly. */
  def q08Rollup(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** CUBE over two lineitem flags. */
  def q09Cube(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** GROUPING SETS via the SQL front-end (the engine's verbatim-SQL path). */
  def q10GroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.sql(s, d,
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  /** Window rank over an aggregate: revenue rank of suppliers within nation.
    * Rank key is rounded revenue + suppkey tie-break (deterministic). */
  def q11WindowRank(s: SparkSession, d: String): DataFrame = {
    val l = t(s, d, "lineitem")
    val sup = t(s, d, "supplier")
    val rev = l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .groupBy(sup("s_suppkey").as("s_suppkey"), sup("s_nationkey").as("s_nationkey"))
      .agg(sumRevenue.as("revenue"))
    val w = Window.partitionBy("s_nationkey").orderBy(col("revenue").desc, col("s_suppkey"))
    rev.withColumn("rnk", rank().over(w).cast("long"))
      .orderBy("s_nationkey", "rnk", "s_suppkey")
  }

  /** lag() over event time per user; microsecond longs keep both engines
    * exact (parquet ns timestamps truncate identically to µs). */
  def q12WindowLag(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events").withColumn("ts_us", unix_micros(col("ts")))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    e.select(
        col("event_id"), col("user_id"),
        (col("ts_us") - lag("ts_us", 1).over(w)).as("gap_us"))
      .orderBy("user_id", "event_id")
  }

  /** Running-sum frame (ROWS UNBOUNDED PRECEDING → CURRENT ROW). Identical
    * accumulation order on both engines ⇒ bit-identical doubles. */
  def q13RunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "orders")
      .select(
        col("o_orderkey"), col("o_custkey"),
        round(sum("o_totalprice").over(w), 2).as("running_total"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Top-k: Catalyst plans TakeOrderedAndProject — no global sort. */
  def q14TopK(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** UNION ALL + reaggregate. */
  def q15UnionAll(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      .unionAll(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
      .groupBy("nationkey").agg(count(lit(1)).as("n"))
      .orderBy("nationkey")

  /** INTERSECT (distinct semantics). */
  def q16Intersect(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  /** EXCEPT (distinct semantics). */
  def q17Except(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      .except(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  /** INTERSECT ALL (multiset semantics), re-aggregated for a deterministic
    * compact result. */
  def q33IntersectAll(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      .intersectAll(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
      .groupBy("nationkey").agg(count(lit(1)).as("n"))
      .orderBy("nationkey")

  /** EXCEPT ALL (multiset difference). */
  def q34ExceptAll(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      .exceptAll(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
      .groupBy("nationkey").agg(count(lit(1)).as("n"))
      .orderBy("nationkey")

  /** Scalar string functions (all codegen'd built-ins). */
  def q18StringFuncs(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_name"), 1, 8).as("name_pfx"),
        concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), "a", "@").as("name_sub"))
      .orderBy("p_partkey")

  /** Date/time extraction + aggregate. */
  def q19DateFuncs(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"))
      .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("total"))
      .orderBy("yr", "mo")

  /** Math scalar functions (IEEE-deterministic: sqrt/pow/abs/ceil/floor). */
  def q20MathFuncs(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_orderkey") % 100 === 0)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
        round(col("l_discount") * col("l_discount"), 6).as("disc_sq"),
        ceil(col("l_quantity")).cast("long").as("qty_ceil"),
        floor(col("l_tax") * 100).cast("long").as("tax_pct"),
        abs(col("l_extendedprice") - col("l_quantity") * 1000).as("abs_diff"))
      .orderBy("l_orderkey", "l_linenumber")

  /** CASE bucketing + aggregate. */
  def q21CaseBuckets(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .select(
        when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high").as("bucket"),
        col("c_acctbal"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        (sumMoney(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
      .orderBy("bucket")

  /** JSON extraction from the events.props payload. */
  def q22Json(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k")

  /** Exact multi-column count distinct (expand + two-phase agg in Spark). */
  def q23CountDistinct(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** HyperLogLog distinct-count sketch, engine-portable (the ss2/ss4/dd4
    * conversion pattern applied to HLL): instead of Spark's built-in
    * `approx_count_distinct` (whose HLL++ register layout and bias tables
    * are engine-internal, so no SQL oracle can replay the estimate), the
    * registers derive from md5 — bucket = top 9 bits of the digest's first
    * 60 bits, rho = leading-zero rank of the remaining 51 (via
    * `length(bin(r))`, exact integer on both engines) — and the estimator
    * is the textbook Flajolet HLL: E = alpha_m·m²/Σ2^−M_j with linear
    * counting below 2.5m. Σ2^−M_j is computed EXACTLY as the integer
    * Σ2^(52−M_j) (≤512·2^52 < 2^63), so the only float ops are one
    * division chain and (in the small-range branch) one ln — both
    * bit-identical cross-engine on identical inputs (tx9/tx10 precedent
    * for ln), and the final floor(+0.5)→BIGINT washes sub-ulp risk.
    *
    * 100 TB shape: TWO pruned 2-column scans (one per hashed key — the
    * union'd branches each read exactly (l_returnflag, key); an explode
    * from one scan was measured slower); partial
    * aggregation combines each branch to ≤ groups×512 register rows per
    * task before the only shuffle — exactly how a distributed HLL merge
    * works (register-wise max). The built-in sketch remains
    * bounds-asserted against this and the exact counts in RelationalSpec.
    *
    * Platform assumption (oracle hash-equality): the estimator's ln() and
    * division chain must be bit-identical cross-engine. Division is IEEE
    * correctly-rounded everywhere; ln is libm-dependent, and glibc's ln is
    * correctly rounded for these inputs (verified on this platform —
    * tx9/tx10 carry the same dependency). floor(x+0.5) then absorbs
    * sub-ulp drift except exactly at half-integer boundaries; on a libm
    * whose ln differs in the last ulp the linear-counting branch could in
    * principle flip a count by 1. The register table itself is fully
    * integer and portable unconditionally. */
  def q24ApproxCountDistinct(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    // Per-branch register aggregation on a FUSED single-long key
    // (ascii(flag)<<10 | cidBit<<9 | bucket): Spark's hash aggregate takes
    // its fast primitive-key path for one long column, measured ~0.3 s
    // cheaper at sf0.1 than the (string, string, long) 3-column key, and
    // aggregating each branch separately drops the per-row cid string
    // entirely. The branches' key spaces are disjoint (bit 9), so the
    // union IS the merged register table — no re-aggregation. Key packing
    // is collision-free because bucket < 2^9 and flags are single chars
    // (TPC-H A/N/R; `ascii` reads the first char). NULL keys contribute no
    // register — approx_count_distinct's null handling; a null bucket would
    // inflate nb and corrupt the empty-register count vz (the oracle
    // filters identically).
    def branch(key: String, cidBit: Int): DataFrame =
      withRho(li.select(col("l_returnflag"), col(key).cast("string").as("v"))
        .where(col("v").isNotNull))
        .select(expr("shiftleft(CAST(ascii(l_returnflag) AS BIGINT), 10)" +
          s" + ${cidBit * 512} + bucket").as("k"), col("rho"))
        .groupBy("k").agg(max("rho").as("mx"))
    val regs = branch("l_partkey", 1).unionAll(branch("l_orderkey", 0))
      .select(
        expr("chr(k DIV 1024)").as("l_returnflag"),
        expr("CASE WHEN (k DIV 512) % 2 = 1 THEN 'p' ELSE 'o' END").as("cid"),
        expr("k % 512").as("bucket"),
        col("mx"))
    hllEstimateFromRegisters(regs)
  }

  /** The shared hash→(bucket, rho) derivation over a relation with a
    * string column `v`: h = md5's 60-bit slice, bucket = top 9 bits,
    * rho = leading-zero rank of the remaining 51. */
  private def withRho(withV: DataFrame): DataFrame =
    withV
      .withColumn("h", graft.functions.PortableHash.md5Hex60("v"))
      .withColumn("bucket", expr("h DIV 2251799813685248")) // 2^51 → top 9 of 60 bits
      .withColumn("r", expr("h % 2251799813685248"))
      // exact integer bit-length without bin()'s per-row string: the float
      // log2 may misround near powers of two, the shiftleft comparisons
      // correct it exactly either way (rho ≡ 52 − length(bin(r)))
      .withColumn("bl0", expr("CAST(floor(log(2.0e0, CAST(r AS DOUBLE))) AS INT)"))
      .withColumn("rho", expr(
        "CASE WHEN r = 0 THEN 52 ELSE 52 - (CASE " +
          "WHEN shiftleft(CAST(1 AS BIGINT), bl0 + 1) <= r THEN bl0 + 2 " +
          "WHEN shiftleft(CAST(1 AS BIGINT), bl0) > r THEN bl0 " +
          "ELSE bl0 + 1 END) END"))

  /** The estimator half: from materialized registers (l_returnflag, cid,
    * bucket, mx) to the pivoted per-group estimates. Pure closed-form math
    * over ≤ groups×2×512 rows. */
  private def hllEstimateFromRegisters(regs: DataFrame): DataFrame = {
    val ests = regs
      .groupBy("l_returnflag", "cid")
      .agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), 52 - mx)")).as("sp"),
        count(lit(1)).as("nb"))
      .withColumn("vz", lit(512L) - col("nb"))
      .withColumn("s", col("sp") + col("vz") * lit(4503599627370496L)) // absent regs: 2^52 each
      .withColumn("eraw", expr(
        "0.7213e0 / (1.0e0 + 1.079e0 / 512.0e0) * 262144.0e0 * 4503599627370496.0e0" +
          " / CAST(CAST(s AS STRING) AS DOUBLE)"))
      .withColumn("est", expr(
        "CAST(floor(CASE WHEN eraw <= 1280.0e0 AND vz > 0 " +
          "THEN 512.0e0 * ln(512.0e0 / CAST(vz AS DOUBLE)) ELSE eraw END + 0.5e0) AS BIGINT)"))
    ests.groupBy("l_returnflag")
      .agg(
        max(when(col("cid") === "p", col("est"))).as("approx_nd_part"),
        max(when(col("cid") === "o", col("est"))).as("approx_nd_order"))
      .orderBy("l_returnflag")
  }

  /** Exact percentiles (sort-based; both engines linearly interpolate with
    * the same formula over identical doubles). The sketch-based scale path
    * is q32. */
  def q31Percentiles(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      // ONE percentile aggregate with an array of fractions: `percentile`
      // is a buffering TypedImperativeAggregate, so asking for p50/p95
      // separately buffers and sorts every group twice (measured ~2x)
      .agg(
        expr("percentile(l_extendedprice, array(0.5D, 0.95D))").as("ps"),
        count(lit(1)).as("n"))
      .select(
        col("l_returnflag"),
        element_at(col("ps"), 1).as("p50"),
        element_at(col("ps"), 2).as("p95"),
        col("n"))
      .orderBy("l_returnflag")

  /** Approximate percentiles via a DETERMINISTIC hash sample (the ss2/q24
    * conversion pattern applied to quantiles): instead of Spark's built-in
    * `approx_percentile` (a KLL/GK-style sketch whose compaction schedule
    * is engine-internal — no SQL oracle can replay it), a 10% sample is
    * selected by md5 of the unique row key (retry/partition-invariant, the
    * sm1/sm2 membership rule) and the interpolated percentile is computed
    * EXACTLY on the sample with a fixed IEEE op sequence — idx=(n−1)·p,
    * v_lo + (v_hi − v_lo)·frac — that DuckDB replays verbatim.
    *
    * 100 TB shape: the sample predicate is a scan-side codegen'd filter (at
    * scale you shrink the fraction so f·N per group fits a sort); ONE
    * shuffle on the group key feeds both the ranked window and the
    * group-count window (same partitioning, no extra exchange), and both
    * fractions share the single sorted pass — the same "one sketch, many
    * quantiles" economics as the built-in (q31's note). Error bound vs
    * q31's exact percentiles stays asserted in RelationalSpec; the native
    * sketch is cross-checked there too. */
  def q32ApproxPercentiles(s: SparkSession, d: String): DataFrame = {
    val samp = t(s, d, "lineitem")
      .select(
        col("l_returnflag"),
        col("l_extendedprice").cast("double").as("x"),
        concat(col("l_orderkey"), lit("_"), col("l_linenumber")).as("rk"))
      .where(graft.functions.PortableHash.md5Hex60("rk") % 10 === 0)
    val byGrp = Window.partitionBy("l_returnflag")
    // null ordering pinned explicitly on BOTH sides (Spark defaults NULLS
    // FIRST, DuckDB NULLS LAST — identical here only because lineitem's
    // columns are non-null; the pin keeps the pattern safe on nullable data)
    val ranked = samp
      .withColumn("rn", row_number().over(
        byGrp.orderBy(col("x").asc_nulls_first, col("rk").asc_nulls_first)))
      .withColumn("n", count(lit(1)).over(byGrp))
      .withColumn("i50", expr("CAST(n - 1 AS DOUBLE) * 0.5e0"))
      .withColumn("lo50", expr("CAST(floor(i50) AS BIGINT)"))
      .withColumn("i95", expr("CAST(n - 1 AS DOUBLE) * 0.95e0"))
      .withColumn("lo95", expr("CAST(floor(i95) AS BIGINT)"))
    ranked.groupBy("l_returnflag")
      .agg(
        max(when(expr("rn = lo50 + 1"), col("x"))).as("a50"),
        max(when(expr("rn = lo50 + 2"), col("x"))).as("b50"),
        max(expr("i50 - CAST(lo50 AS DOUBLE)")).as("f50"),
        max(when(expr("rn = lo95 + 1"), col("x"))).as("a95"),
        max(when(expr("rn = lo95 + 2"), col("x"))).as("b95"),
        max(expr("i95 - CAST(lo95 AS DOUBLE)")).as("f95"))
      .select(
        col("l_returnflag"),
        expr("a50 + (coalesce(b50, a50) - a50) * f50").as("ap50"),
        expr("a95 + (coalesce(b95, a95) - a95) * f95").as("ap95"))
      .orderBy("l_returnflag")
  }

  /** Correlated scalar subquery — Catalyst decorrelates it into a left
    * outer aggregate join (no per-row execution; same query text runs on
    * the oracle). Raw max/count outputs, so no float arithmetic at all. */
  def q30CorrelatedSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.sql(s, d,
      """SELECT c_custkey,
        |       (SELECT max(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_order,
        |       (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Correlated AGGREGATE subquery (the TPC-H Q17 shape): lineitems below
    * half their part's average quantity. Catalyst decorrelates the per-row
    * scalar aggregate into one partkey-keyed aggregation joined back to
    * the fact — not a per-row re-execution (plan-asserted in ScaleSpec).
    *
    * Oracle determinism: `avg(decimal)` is DECIMAL(22,6) (exact, HALF_UP)
    * in Spark but DOUBLE in DuckDB, so the threshold is written as
    * `CAST(sum(decimal) AS DOUBLE) / count(*)` — exact decimal sum, then
    * one IEEE division computed identically by both engines; a plain
    * double `avg()` would also be partition-order-dependent. */
  def q46AvgQtySubquery(s: SparkSession, d: String): DataFrame = {
    Tables.sql(s, d,
      """SELECT l_returnflag, count(*) AS n_small,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_revenue
        |FROM lineitem l
        |WHERE l.l_quantity < 0.5 * (
        |  SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |  FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  /** Typed UDAF (Aggregator[IN,BUF,OUT]) in a grouped aggregation. */
  def q27TypedUdaf(s: SparkSession, d: String): DataFrame = {
    val sumsq = udaf(graft.functions.Aggregators.SumOfSquares)
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(sumsq(col("l_quantity")).as("sum_sq"), count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** JSON → typed map + generator (explode over map entries): the
    * from_json/map-functions/UDTF-shaped surface. */
  def q28MapExplode(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .select(explode(from_json(col("props"),
        org.apache.spark.sql.types.DataType.fromDDL("map<string,int>"))).as(Seq("key", "value")))
      .groupBy("key")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .orderBy("key")

  /** Row type for the typed-Dataset surface (compile-time field checks). */
  final case class Li(l_returnflag: String, l_quantity: Double)

  /** Typed Dataset API: case-class encoder + groupByKey/mapGroups. The
    * aggregate is integer-exact (quantities are whole numbers < 2^53), so
    * iteration order inside a group cannot change the result. Note the
    * deliberate tradeoff documented here: mapGroups forgoes partial
    * aggregation (all rows shuffle), which is why the untyped agg path is
    * preferred for plain sums at scale — this query exists to cover the
    * typed surface. */
  def q29TypedDataset(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    t(s, d, "lineitem")
      .select("l_returnflag", "l_quantity")
      .as[Li]
      .groupByKey(_.l_returnflag)
      .mapGroups { (flag, rows) =>
        var n = 0L
        var qty = 0.0
        rows.foreach { r => n += 1; qty += r.l_quantity }
        (flag, n, qty)
      }
      .toDF("l_returnflag", "n", "sum_qty")
      .orderBy("l_returnflag")
  }

  /** Conditional aggregation via pivot (explicit value list keeps the plan a
    * single pass — no second job to discover pivot values). */
  def q26Pivot(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0)
      .orderBy("user_id")

  /** Single-pass table profiling (the ANALYZE TABLE shape): per-column
    * null counts, exact distincts, and min/max bounds in ONE aggregation
    * over the scan — the pre-ingestion sanity pass a pipeline runs before
    * accepting a drop. At 100 TB swap the exact distincts for
    * `approx_count_distinct` (mergeable sketch, same single pass); exact
    * here so the oracle can hash-check every number. */
  def q38TableProfile(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("nn_orderkey"),
        countDistinct(col("o_orderkey")).as("nd_orderkey"),
        countDistinct(col("o_custkey")).as("nd_custkey"),
        countDistinct(col("o_orderstatus")).as("nd_status"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        min(col("o_orderdate")).cast("timestamp").as("min_date"),
        max(col("o_orderdate")).cast("timestamp").as("max_date"))

  /** Integrity validation: primary-key uniqueness and foreign-key
    * orphan checks as aggregations/anti-joins — the load-time contract
    * tests of an ETL pipeline. Both checks are single-shuffle: uniqueness
    * is a keyed count, orphan detection an anti join against the
    * (broadcastable) parent key set. */
  def q39IntegrityChecks(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders")
    val dupKeys = orders.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .agg(count(lit(1)).as("v")).select(lit("dup_orderkeys").as("check"), col("v"))
    val orphans = orders
      .join(t(s, d, "customer").select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("v")).select(lit("orphan_orders").as("check"), col("v"))
    val lineOrphans = t(s, d, "lineitem")
      .join(orders.select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v")).select(lit("orphan_lineitems").as("check"), col("v"))
    dupKeys.unionByName(orphans).unionByName(lineOrphans).orderBy("check")
  }

  /** Batch merge/upsert (the lakehouse MERGE pattern without a lakehouse
    * format): a change-set replaces matching base rows and inserts the
    * rest — expressed as changes ∪ (base ANTI-JOIN changes). The anti join
    * broadcasts the (small) change-set key list, so the base table never
    * reshuffles. The change-set is synthetic (every 100th order re-priced
    * +10%), computed ENTIRELY in decimal at scale 4 so NO rounding happens
    * anywhere: a 2dp price × 1.1 has at most 3 decimals, which scale 4
    * holds exactly — any scale-2 re-cast (or double ×1.1) rounds .xx5
    * cases and engines disagree on those. */
  def q37MergeUpsert(s: SparkSession, d: String): DataFrame = {
    val baseD = t(s, d, "orders")
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(20,4)"))
    val changes = baseD.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_totalprice",
        (col("o_totalprice") * expr("CAST(1.1 AS DECIMAL(3,2))")).cast("decimal(20,4)"))
    val merged = changes.unionByName(
      baseD.join(changes.select("o_orderkey"), Seq("o_orderkey"), "left_anti"))
    merged.groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice")).cast("double").as("total"))
      .orderBy("o_orderpriority")
  }

  /** Distribution window functions — decile bucketing (ntile) and the
    * exact rank ratios (percent_rank/cume_dist). The ordering inside each
    * partition is total (price, then key), so every row is its own peer
    * group and the emitted doubles are ratios of exact integers —
    * bit-identical cross-engine. */
  def q36WindowDist(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, d, "orders")
      .select(
        col("o_orderkey"), col("o_orderpriority"),
        ntile(10).over(w).cast("long").as("decile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("o_orderkey")
  }

  /** Pivot's inverse: long-form (metric, total) rows from the wide measure
    * columns. The aggregation is PUSHED THROUGH the unpivot: summing each
    * measure first and melting the 3-row aggregate is semantically
    * identical to melting 4× the fact table and re-aggregating (the metric
    * key maps 1:1 to a source column and every measure is non-null), but
    * the expand operator then runs over group-count rows instead of
    * 4×|lineitem| — measured 6× at the 10× stress scale. */
  /** Value-based (RANGE) window frames: trailing-30-day spend per customer
    * at each order. RANGE frames bound the window by the ORDER BY value
    * (here epoch-µs), not a row count — the time-decayed-metric shape ROWS
    * frames cannot express when order timestamps are irregular. The frame
    * sum accumulates in DECIMAL (exact ⇒ frame-evaluation-order
    * independent); window shuffles once on o_custkey. */
  def q40RangeFrame(s: SparkSession, d: String): DataFrame = {
    val ThirtyDaysUs = 30L * 24 * 3600 * 1000000
    val w = Window.partitionBy("o_custkey").orderBy("ts_us")
      .rangeBetween(-ThirtyDaysUs, Window.currentRow)
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .withColumn("trailing_spend", sum("p").over(w).cast("double"))
      .withColumn("n_in_window", count(lit(1)).over(w))
      .select("o_orderkey", "o_custkey", "trailing_spend", "n_in_window")
      .orderBy("o_orderkey")
  }

  /** Bivariate statistics (corr / sample stddev / sample covariance) per
    * group, built from DECIMAL power sums rather than the engines' native
    * corr()/stddev(): float accumulation order varies per partitioning (and
    * per engine), while decimal Σx, Σy, Σxy, Σx², Σy² are exact — cast to
    * double once, the derived formulas below are pure IEEE arithmetic on
    * identical inputs, so results are bit-stable with NO rounding at all.
    * One aggregation pass, map-side combined; this is also the 100 TB
    * answer for deterministic statistics at scale.
    *
    * Degenerate-variance contract (found by the extreme-values tier): a
    * zero-variance group makes the corr denominator EXACTLY 0.0, and under
    * this build's ANSI default Spark throws DIVIDE_BY_ZERO even for
    * doubles (DuckDB yields NULL) — one constant group at 100 TB would
    * kill the whole job. The guards below make the SQL-standard contract
    * explicit on BOTH engines: corr is NULL unless both variance terms are
    * strictly positive; stddev of a constant group is 0 (variance clamped
    * at 0 against 1-ulp negative cancellation); stddev/covar are NULL for
    * n ≤ 1. Guard predicates compare the SAME doubles both engines compute,
    * so branch choice is bit-stable cross-engine. */
  def q41CorrStats(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    val n = col("n").cast("double")
    def d2(c: Column) = c.cast("double")
    val (sx, sy, sxy, sxx, syy) =
      (d2(col("sx")), d2(col("sy")), d2(col("sxy")), d2(col("sxx")), d2(col("syy")))
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(
        col("l_returnflag"), col("n"),
        when(vx > 0.0 && vy > 0.0,
          (n * sxy - sx * sy) / (sqrt(vx) * sqrt(vy))).as("corr_qty_price"),
        when(col("n") > 1,
          sqrt(greatest(vx, lit(0.0)) / (n * (n - lit(1.0))))).as("stddev_qty"),
        when(col("n") > 1,
          (n * sxy - sx * sy) / (n * (n - lit(1.0)))).as("covar_qty_price"))
      .orderBy("l_returnflag")
  }

  def q35Unpivot(s: SparkSession, d: String): DataFrame = {
    def dsum(c: String) = sum(col(c).cast("decimal(18,2)")).cast("double").as(c)
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum("l_quantity"), dsum("l_extendedprice"), dsum("l_discount"), dsum("l_tax"))
      .unpivot(
        Array(col("l_returnflag"), col("n")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "total")
      .select("l_returnflag", "metric", "total", "n")
      .orderBy("l_returnflag", "metric")
  }

  /** Recursive CTE (Spark 4's WITH RECURSIVE): per-customer order "streaks"
    * — maximal chains of consecutive orders each placed within 30 days of
    * the previous one. The successor relation is precomputed with ONE
    * window pass (lead/lag over the per-customer order sequence), so each
    * recursive step is a linear equi-join walk along disjoint chains: no
    * fan-out, total work = Σ chain lengths, and the iteration count is the
    * longest streak, not the row count. Seeds are streak heads (no
    * predecessor within 30 days). Identical RECURSIVE text runs on the
    * oracle; timestamps are compared in epoch-µs longs per the determinism
    * contract. */
  def q42RecursiveStreaks(s: SparkSession, d: String): DataFrame = {
    // Recursion guards: depth is bounded by the longest streak (6 on this
    // corpus — the 100-level default is ample), but the ROW guard counts
    // every row the recursion EVER produces, and the chain relation is
    // linear in |orders| (each order appears exactly once) — the 1M default
    // trips at the 10× stress corpus's 1.5M orders. Linear growth is the
    // operator's contract, so lift the row guard well clear; keep the level
    // guard at a value that still catches a genuine cycle.
    s.conf.set("spark.sql.cteRecursionLevelLimit", "1000")
    s.conf.set("spark.sql.cteRecursionRowLimit", "2000000000")
    // The recursive step re-executes its source subplan on EVERY iteration;
    // leaving the successor derivation inline re-ran the scan + window once
    // per depth level (measured 6.2 s at sf0.1). Materialize the edge
    // relation ONCE (eager localCheckpoint, GC-reclaimed with the plan) and
    // let the recursion walk the stored rows — the oracle keeps the inline
    // form, which DuckDB evaluates once by construction.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c").orderBy("t", "k")
    val gapUs = 2592000000000L
    // FOUR chain-walk steps per recursion round (succ² through r14; succ⁴
    // since the r15 optimization round): the same window pass derives
    // succ¹..succ⁴ (succᵢ valid only when ALL i hops are within the gap),
    // the anchor seeds positions 0–3, and the recursive step walks succ⁴ —
    // quartering the rounds (each round is a full Spark job; per-step
    // latency, not data volume, is this operator's cost at any SF).
    // Row-set equivalence: a streak is a path, so every node has a unique
    // 4-step predecessor in its own residue class mod 4 — positions 0–3
    // are reached from the anchor, position p ≥ 4 from position p−4, each
    // exactly once. The oracle keeps the single-step inline recursion, so
    // the hash compare proves the batched walk emits the identical chain
    // relation.
    val within = (lo: Column, hi: Column) => hi - lo <= gapUs
    t(s, d, "orders")
      .select(
        col("o_orderkey").as("k"), col("o_custkey").as("c"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
      .withColumn("nk", lead("k", 1).over(w))
      .withColumn("nt", lead("t", 1).over(w))
      .withColumn("nk2", lead("k", 2).over(w))
      .withColumn("nt2", lead("t", 2).over(w))
      .withColumn("nk3", lead("k", 3).over(w))
      .withColumn("nt3", lead("t", 3).over(w))
      .withColumn("nk4", lead("k", 4).over(w))
      .withColumn("nt4", lead("t", 4).over(w))
      .withColumn("pt", lag("t", 1).over(w))
      .select(col("k"), col("c"),
        when(within(col("t"), col("nt")), col("nk")).as("succ"),
        when(within(col("t"), col("nt")) && within(col("nt"), col("nt2")),
          col("nk2")).as("succ2"),
        when(within(col("t"), col("nt")) && within(col("nt"), col("nt2")) &&
          within(col("nt2"), col("nt3")), col("nk3")).as("succ3"),
        when(within(col("t"), col("nt")) && within(col("nt"), col("nt2")) &&
          within(col("nt2"), col("nt3")) && within(col("nt3"), col("nt4")),
          col("nk4")).as("succ4"),
        (col("pt").isNull || col("t") - col("pt") > gapUs).as("is_seed"))
      .pinLazy()
      .createOrReplaceTempView("q42_edges")
    // non-recursive four-position anchor (a view — evaluated once per run)
    s.sql(
      """SELECT c, k AS seed, k FROM q42_edges WHERE is_seed
        |UNION ALL
        |SELECT c, k AS seed, succ AS k FROM q42_edges
        |WHERE is_seed AND succ IS NOT NULL
        |UNION ALL
        |SELECT c, k AS seed, succ2 AS k FROM q42_edges
        |WHERE is_seed AND succ2 IS NOT NULL
        |UNION ALL
        |SELECT c, k AS seed, succ3 AS k FROM q42_edges
        |WHERE is_seed AND succ3 IS NOT NULL""".stripMargin)
      .createOrReplaceTempView("q42_anchor")
    s.sql(
      """WITH RECURSIVE chain AS (
        |  SELECT c, seed, k FROM q42_anchor
        |  UNION ALL
        |  SELECT e.c, ch.seed, e.succ4 AS k
        |  FROM chain ch JOIN q42_edges e ON e.k = ch.k
        |  WHERE e.succ4 IS NOT NULL
        |)
        |SELECT c AS o_custkey, seed, count(*) AS streak_len
        |FROM chain GROUP BY c, seed
        |ORDER BY o_custkey, seed""".stripMargin)
  }

  /** Full outer join over deliberately partially-overlapping aggregates
    * (each side restricted by a different key predicate so BOTH unmatched
    * sides actually occur — the corpus's customer and supplier nation sets
    * coincide, which would silently degrade a full outer into an inner). */
  def q44FullOuter(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer").filter(col("c_nationkey") % 3 =!= 0)
      .groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("n_cust"))
    val sup = t(s, d, "supplier").filter(col("s_nationkey") % 2 === 0)
      .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("n_supp"))
    c.join(sup, c("ck") === sup("sk"), "full_outer")
      .select(coalesce(col("ck"), col("sk")).as("nationkey"), col("n_cust"), col("n_supp"))
      .orderBy("nationkey")
  }

  /** Correlated LATERAL subquery with per-row ORDER BY + LIMIT: top-2
    * orders per customer through the SQL front-end. Catalyst decorrelates
    * the lateral into a ranked window join — per-group top-k without a
    * driver loop; the same text runs on the oracle. */
  def q45LateralTopN(s: SparkSession, d: String): DataFrame = {
    Tables.sql(s, d,
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c_custkey, o_orderkey""".stripMargin)
  }

  /** Selective-dimension join: revenue from lineitems of one priority class
    * in one quarter. The orders filter survives ~2% of rows, so at scale
    * the right plan pushes that selectivity ACROSS the join onto the fact
    * scan before the shuffle — broadcast here (dimension fits), and when
    * the filtered dimension outgrows broadcast, Spark's runtime Bloom
    * filter does the same job on the shuffle path (ScaleSpec asserts the
    * bloom plan under forced-shuffle thresholds). */
  def q43SelectiveJoin(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select("o_orderkey", "o_orderpriority")
    val l = t(s, d, "lineitem")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        sumRevenue.as("revenue"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q21 shape: per supplier, count 'R'-flag lineitems on
    * multi-supplier orders where that supplier is the ONLY one whose item
    * came back flagged — EXISTS plus NOT EXISTS, both correlated on the
    * same fact table with a non-equi suppkey condition attached.
    *
    * Spark plans the pair as a left-semi then left-anti join; all three
    * lineitem branches shuffle on l_orderkey, so the two joins run
    * co-partitioned back to back with no re-exchange between them, and the
    * supplier dimension broadcasts. At 100 TB this stays one fact-keyed
    * exchange per branch — the decorrelation Q21 is designed to test. */
  def q47ExistsChain(s: SparkSession, d: String): DataFrame = {
    val l = t(s, d, "lineitem")
    val l1 = l.filter(col("l_returnflag") === "R").select("l_orderkey", "l_suppkey")
    val other = l.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
    val otherR = l.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
    val sup = t(s, d, "supplier")
    l1.join(other, col("l_orderkey") === col("k2") && col("s2") =!= col("l_suppkey"), "left_semi")
      .join(otherR, col("l_orderkey") === col("k3") && col("s3") =!= col("l_suppkey"), "left_anti")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("n_lone_r"))
      .orderBy(col("n_lone_r").desc, col("s_suppkey"))
      .limit(20)
  }

  /** Equi-depth (equi-height) histogram of o_totalprice — the statistic a
    * cost-based optimizer stores per column. Built at VALUE granularity:
    * the corpus first collapses to the (value, count) distribution in one
    * partial-aggregated shuffle, then every value gets its exact exclusive
    * prefix count `cb` (rows with a strictly smaller price), which fixes its
    * bucket (bucket = 16 · cb / n: equal ROW mass per bucket, every value in
    * exactly one bucket).
    *
    * The prefix sum is [[Prefix.exclusiveSum]] — the range-partitioned
    * two-pass parallel prefix (value-binned pid → partition-local window →
    * triangular-join offsets), so no operator ever sees more than
    * ~|distinct prices|/32 rows in one task; at 100× the data the plan just
    * needs more bins, where the old global `Window.orderBy(price)` funneled
    * the whole domain into ONE task. */
  def q48EquiDepthHist(s: SparkSession, d: String): DataFrame = {
    // the compressed (value, count) distribution feeds four branches
    // (stats + Prefix's three): materialize it once — see Dedup.jaccardPairs
    // for the localCheckpoint-over-cache rationale
    val v = t(s, d, "orders")
      .groupBy(col("o_totalprice").as("price")).agg(count(lit(1)).as("c"))
      .pinLazy()
    val tot = v.agg(sum("c").as("n"), min("price").as("mn"), max("price").as("mx"))
    Prefix.exclusiveSum(
        v.crossJoin(broadcast(tot)),
        Prefix.rangeBin(col("price"), col("mn"), col("mx"), 32),
        Seq(col("price")), col("c"), "cb")
      .withColumn("bucket", expr("CAST(cb * 16 DIV n AS BIGINT)"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_values"),
        sum("c").as("n_rows"),
        min("price").as("lo"),
        max("price").as("hi"))
      .orderBy("bucket")
  }
}
