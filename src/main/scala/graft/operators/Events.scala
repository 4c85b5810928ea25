package graft.operators

import graft.Ckpt.PinOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{window => timeWindow, _}

import graft.Tables

/** Event-stream operators over `events` in batch form. The same
  * `window()`/watermark expressions run unchanged under Structured Streaming
  * — see graft.streaming.StreamingOps for the readStream/writeStream wiring.
  *
  * All sub-second math uses epoch microseconds as longs: parquet ns
  * timestamps truncate to µs identically in Spark and DuckDB, keeping the
  * oracle exact.
  */
object Events {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** Tumbling 1-hour windows per event type. Hour buckets align with epoch
    * in both engines (Spark window origin = 1970-01-01, ≡ date_trunc). */
  def tumbling(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(timeWindow(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("try_cast(value AS DECIMAL(18,2))")).cast("double").as("total_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("total_value"))
      .orderBy("w_start", "event_type")

  /** Sliding 1-hour windows every 15 minutes (each event lands in 4
    * windows). */
  def sliding(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(timeWindow(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("n"))
      .orderBy("w_start")

  /** Sessionization: 30-minute inactivity gap splits sessions. Classic
    * lag-flag + running-sum session ids, then two-level aggregation. One
    * shuffle on user_id; the windows reuse that partitioning. */
  def sessions(s: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val e = t(s, d, "events").withColumn("ts_us", unix_micros(col("ts")))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val flagged = e.withColumn("new_s",
      when(lag("ts_us", 1).over(w).isNull ||
        col("ts_us") - lag("ts_us", 1).over(w) > gapUs, 1).otherwise(0))
    val sess = flagged.withColumn("session_id",
      sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perSession = sess.groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        ((max("ts_us") - min("ts_us")) / 1000000L).as("dur_s"))
    perSession.groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        sum("n_events").as("n_events_total"),
        avg("n_events").as("avg_events"), // unrounded: exact-integer ratio
        max("dur_s").as("max_dur_s"))
      .orderBy("user_id")
  }

  /** Time-series gap filling: the hourly count grid per event type with
    * missing hours materialized as zero rows (and flagged) — the densify
    * step before charting/forecasting, which a bare groupBy cannot produce
    * (absent groups yield no row at all).
    *
    * Scale shape: the grid is (corpus time range in hours) × (event-type
    * cardinality) — metadata scale, built once from a 1-row min/max
    * aggregate and broadcast against the hour-keyed actuals. The
    * corpus-sized work is the same single aggregation as [[tumbling]]. */
  def gapFill(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
    // ONE corpus scan (r16): the grid's bounds and type set both derive
    // from the hourly aggregate itself — min/max of the truncated hours
    // equal the truncation of min/max ts (date_trunc is monotone), and the
    // aggregate's key set IS the distinct event-type set (every row lands
    // in some group, including null-keyed ones). The former standalone
    // range/distinct branches each re-scanned the full events table for
    // metadata the aggregate already carries (3 scans → 1, §2.4). Pinned:
    // the hours×types relation feeds the bounds agg, the type set and the
    // outer join — metadata scale at any SF.
    val actual = e
      .groupBy(date_trunc("hour", col("ts")).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .pinLazy()
    val range = actual.agg(min(col("w_start")).as("lo"), max(col("w_start")).as("hi"))
    val grid = range
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("w_start"))
      .crossJoin(actual.select("event_type").distinct())
    grid.join(actual, Seq("w_start", "event_type"), "left")
      .select(
        col("w_start"), col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("n"),
        col("cnt").isNull.as("is_gap"))
      .orderBy("w_start", "event_type")
  }

  /** Conversion funnel view → click → purchase: per stage, how many users
    * reached it IN ORDER (first view before first click before first
    * purchase). One user-keyed conditional-min aggregation (first touch per
    * stage) and a 3-row summary — the fan-in shape that scales as a single
    * shuffle regardless of event volume. */
  def funnel(s: SparkSession, d: String): DataFrame = {
    def firstTouch(tpe: String) =
      min(when(col("event_type") === tpe, unix_micros(col("ts")))).as(tpe)
    val touches = t(s, d, "events")
      .groupBy("user_id")
      .agg(firstTouch("view"), firstTouch("click"), firstTouch("purchase"))
    val viewed = col("view").isNotNull
    val clicked = viewed && col("click").isNotNull && col("click") > col("view")
    val purchased = clicked && col("purchase").isNotNull && col("purchase") > col("click")
    touches.agg(
      sum(viewed.cast("long")).as("n_view"),
      sum(clicked.cast("long")).as("n_view_click"),
      sum(purchased.cast("long")).as("n_full_funnel"))
      .select(explode(array(
        struct(lit(1L).as("stage"), lit("view").as("name"), col("n_view").as("n_users")),
        struct(lit(2L).as("stage"), lit("view>click").as("name"), col("n_view_click").as("n_users")),
        struct(lit(3L).as("stage"), lit("view>click>purchase").as("name"),
          col("n_full_funnel").as("n_users")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.name").as("name"), col("s.n_users").as("n_users"))
      .orderBy("stage")
  }

  /** Latest-event-per-key compaction (CDC/SCD1 snapshot): keep each user's
    * most recent event, ties broken by event_id so the survivor is total-
    * order deterministic — the recency twin of content dedup. One window
    * over the user partition; at scale this is the standard log-compaction
    * plan (shuffle on key, per-key top-1, no global sort). */
  def latestEventPerUser(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    t(s, d, "events")
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** Top spenders on purchase events — filter + agg + deterministic top-k. */
  /** Cohort retention matrix: users grouped by first-activity day, then
    * for each later day-offset the count of cohort members active again.
    * Day indexing is epoch-µs integer division (identical truncation in
    * both engines). The per-user cohort aggregation and the join back to
    * events both key on user_id, so the join consumes the aggregation's
    * partitioning (no extra shuffle of the aggregate side); the final
    * (cohort, offset) matrix is bounded by days², not events. At local
    * scale AQE turns the join broadcast; at 100 TB both sides shuffle
    * co-partitioned on user_id — still one pass over events per side. */
  def retention(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
    val cohorts = e.groupBy("user_id").agg(min("day").as("cohort_day"))
    e.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct("user_id").as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** OHLC bar downsampling: hourly open/high/low/close/volume per event
    * type — the classic time-series compaction. One shuffle keyed by
    * (hour, type), partial-aggregated; open/close are `min_by`/`max_by` on
    * a FIXED-WIDTH zero-padded (ts, event_id) string key, so the selected
    * row is total-order deterministic and identical to DuckDB's
    * `arg_min/arg_max` on the same key (its arg_min has no struct
    * ordering; lexicographic on the padded key ≡ numeric order). high/low/
    * open/close are raw row doubles (exact); volume accumulates in
    * decimal. */
  def ohlcBars(s: SparkSession, d: String): DataFrame = {
    val key = concat(
      lpad(expr("unix_micros(ts)").cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 12, "0"))
    t(s, d, "events")
      // explicit null contract: bars are over PRESENT prices — a null-value
      // tick carries no price information for any of O/H/L/C/volume. Also
      // removes a cross-engine trap the null-tier audit caught: Spark's
      // max_by returns the (null) value at the max key while DuckDB's
      // arg_max skips null-valued rows entirely, silently diverging close/
      // open wherever a null tick lands at a bar boundary.
      .filter(col("value").isNotNull)
      .groupBy(timeWindow(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        min_by(col("value"), key).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max_by(col("value"), key).as("close"),
        count(lit(1)).as("n"),
        sum(expr("try_cast(value AS DECIMAL(18,2))")).cast("double").as("volume"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n"), col("volume"))
      .orderBy("w_start", "event_type")
  }

  /** Counter rate / derivative with reset detection: per-user value deltas
    * over time deltas, NULL rate across counter resets (value decrease) —
    * the monitoring-pipeline downsampling primitive. One shuffle for the
    * per-user window; every arithmetic step is IEEE-exact on identically
    * derived inputs (µs longs, double subtraction/division in the same
    * order both engines). */
  def counterRates(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    t(s, d, "events")
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("ts_us"), col("value"))
      .withColumn("delta", col("value") - lag("value", 1).over(w))
      .withColumn("dt_us", col("ts_us") - lag("ts_us", 1).over(w))
      .withColumn("rate_per_s",
        when(col("delta") >= 0 && col("dt_us") > 0,
          col("delta") * lit(1000000L) / col("dt_us")))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** SCD Type-2 history build: per user, one VERSION row per run of equal
    * event_type values, with [valid_from, valid_to) bounds and a current
    * flag — the slowly-changing-dimension primitive that turns a change log
    * into a queryable history. Change rows are lag-detected, then version
    * numbers and interval ends come from windows over the (much smaller)
    * change relation. All three windows share the user_id partitioning, so
    * the whole build is ONE shuffle of the event log regardless of scale. */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    t(s, d, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_us", lead("ts_us", 1).over(w))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  /** Interval-overlap counting: how many user sessions (ev2's 30-minute-gap
    * sessions) overlap each hour — the sweep primitive behind concurrency
    * dashboards and capacity planning. Sessions reduce to [start, end]
    * bounds in the same single user-keyed shuffle as ev2, then each session
    * explodes to the hour indexes it covers; the fan-out is bounded by
    * session duration (gap-bounded by construction), so the hour-keyed
    * count never sees more than duration/hour rows per session — a banded
    * interval join against the hour grid, not an all-pairs sweep. */
  def sessionOverlap(s: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val hourUs = 3600L * 1000000
    val e = t(s, d, "events").withColumn("ts_us", unix_micros(col("ts")))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val sess = e.withColumn("new_s",
      when(lag("ts_us", 1).over(w).isNull ||
        col("ts_us") - lag("ts_us", 1).over(w) > gapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"))
    sess
      .select(explode(sequence(
        expr(s"start_us div $hourUs"),
        expr(s"end_us div $hourUs"))).as("hour_idx"))
      .groupBy("hour_idx")
      .agg(count(lit(1)).as("n_sessions"))
      .select(timestamp_micros(col("hour_idx") * hourUs).as("w_start"),
        col("hour_idx"), col("n_sessions"))
      .orderBy("hour_idx")
  }

  /** Hourly anomaly flags (ev15): z-score of each (hour, event_type) count
    * against that type's own hourly distribution — the monitoring-pipeline
    * outlier pass. The distribution moments are EXACT integer power sums:
    * counts are cast to DECIMAL(19,0) BEFORE squaring, so n² and its sum
    * cannot wrap int64 even at per-(hour,type) counts near 1e9 (a raw
    * `sum(n*n)` silently wraps in Spark where DuckDB promotes to HUGEINT —
    * the engines would diverge exactly at scale). Both engines then convert
    * the scale-0 exact sum to double in one correctly-rounded step
    * (BigDecimal.doubleValue / int128→double; no 10^scale division, so the
    * q41 double-rounding trap doesn't apply) and evaluate z in the same
    * operation order — bit-identical before the 1e-4 display rounding. Two
    * aggregations (hourly counts, per-type moments) + one broadcast join
    * back; every row keeps its z and a flag rather than filtering, so the
    * output is a stable full matrix. */
  def hourlyAnomalies(s: SparkSession, d: String): DataFrame = {
    val hourly = t(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy("event_type").agg(
      count(lit(1)).as("nh"),
      sum("n").as("sx"),
      sum(col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)")).as("sxx"))
    val nh = col("nh").cast("double")
    val num = nh * col("sxx").cast("double") - col("sx").cast("double") * col("sx")
    val zraw = when(col("nh") > 1 && num > 0,
      (col("n") - col("sx").cast("double") / col("nh")) /
        sqrt(num / (nh * (col("nh") - 1))))
    hourly.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("w_start"), col("n"),
        round(zraw, 4).as("z"),
        coalesce(abs(round(zraw, 4)) > 2.0, lit(false)).as("is_anomaly"))
      .orderBy("event_type", "w_start")
  }

  /** ev16's smoothing weight α: an exact binary fraction, so the fold is
    * bit-exact across engines. */
  val EwmaAlpha = 0.25

  /** Per-user EWMA (ev16): exponentially-weighted moving average of event
    * values in time order — the classic smoothing recurrence
    * `s_i = α·v_i + (1−α)·s_{i−1}`, a ORDER-DEPENDENT fold no window
    * aggregate expresses. Each user's sequence is collected and sorted by
    * the total (ts, event_id) order, then folded with the `aggregate` HOF
    * seeded from the first value — byte-compatible with DuckDB's
    * `list_reduce` left fold, and α = [[EwmaAlpha]] is an exact binary fraction, so
    * every multiply-add is the same IEEE op on both engines: bit-exact
    * before the display rounding.
    *
    * Scale shape: one user-keyed shuffle; per-user state is that user's
    * event list (bounded by per-entity activity, the same bound
    * sessionization carries). */
  def ewma(s: SparkSession, d: String): DataFrame = {
    val folded = t(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("value"))))
        .as("seq"))
      .select(col("user_id"),
        size(col("seq")).cast("long").as("n_events"),
        aggregate(
          slice(col("seq"), lit(2), greatest(size(col("seq")) - 1, lit(0))),
          element_at(col("seq"), 1).getField("value"),
          (acc, x) => lit(EwmaAlpha) * x.getField("value") + lit(1 - EwmaAlpha) * acc).as("raw"))
    // NO display rounding (extreme-tier find): the fold itself is
    // bit-exact cross-engine (same left-fold op order on the same
    // doubles), but round(x, 6) is NOT — Spark rounds the shortest
    // decimal representation (BigDecimal.valueOf) while DuckDB scales by
    // 10^6 and rounds, and the two disagree by 1 ulp once |x| carries
    // more than ~15 significant digits (seen at ±9.9e9 inputs). Emitting
    // the raw fold is both stronger (hash proves bit-exactness) and safer.
    folded
      .select(col("user_id"), col("n_events"), col("raw").as("ewma"))
      .orderBy("user_id")
  }

  /** Running distinct-user counts per day (q49's engine side): cumulative
    * COUNT(DISTINCT) over an ordered window, which no engine supports
    * directly — the standard rewrite counts each user once at its FIRST
    * day (one user-keyed aggregation) and prefix-sums the per-day new-user
    * counts. The prefix runs over the day domain (metadata scale) via
    * [[Prefix.exclusiveSum]] — two-pass, so even a decades-long day domain
    * never lands in one task; the corpus-sized work is the first-touch
    * aggregation. */
  def runningDistinctUsers(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
    val newPerDay = e.groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    // the day-domain relation feeds stats + Prefix's three branches; tiny,
    // but derived from a corpus-wide distinct — materialize it once
    val days = e.select("day").distinct()
      .join(newPerDay, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .pin()
    val stat = days.agg(min("day").as("mnd"), max("day").as("mxd"))
    Prefix.exclusiveSum(
        days.crossJoin(broadcast(stat)),
        Prefix.rangeBin(col("day"), col("mnd"), col("mxd"), 32),
        Seq(col("day")), col("new_users"), "cb")
      // inclusive running total = exclusive prefix + own mass
      .withColumn("cum_distinct_users", col("cb") + col("new_users"))
      .select("day", "new_users", "cum_distinct_users")
      .orderBy("day")
  }

  /** Forward fill / LOCF (ev17): carry each user's last PURCHASE value
    * forward onto every subsequent event — the last-observation-carried-
    * forward primitive that densifies sparse measurements (ev7 fills
    * missing ROWS with zeros; this fills missing VALUES with history).
    * One user-keyed window with `last(..., ignoreNulls)` over the running
    * frame; values are stored doubles carried verbatim (no arithmetic), so
    * the result is exact on any engine. */
  def forwardFill(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("value"))
      .withColumn("last_purchase_value",
        last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true).over(w))
      .select("user_id", "event_id", "ts_us", "event_type", "last_purchase_value")
      .orderBy("user_id", "ts_us", "event_id")
  }

  def topSpenders(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        sum(expr("try_cast(value AS DECIMAL(18,2))")).cast("double").as("spend"))
      .orderBy(col("spend").desc, col("user_id"))
      .limit(10)

  /** ev19: per-user time-weighted average — the monitoring/billing
    * integral Σ vᵢ·Δtᵢ / Σ Δtᵢ, where each value holds until the user's
    * next event (last event contributes no interval). A plain average
    * overweights bursts; the time-weighted one is the value's true mean
    * over the observation span.
    *
    * Determinism: the integral accumulates in DECIMAL — value at scale 4
    * (no double lies exactly on a 4-dp rounding boundary, so both engines
    * round the cast identically), Δt in exact µs — making the sum
    * order-insensitive; ONE correctly-rounded cast of each side to double
    * and a single IEEE division produce the ratio (the oracle routes its
    * decimal→double cast through VARCHAR, as dd10 does, because DuckDB's
    * direct conversion double-rounds). One user-keyed window + one
    * aggregation; partitioned by user, so no global window and
    * user-count-proportional parallelism at scale. */
  def timeWeightedAvg(s: SparkSession, d: String): DataFrame =
    timeWeightedAvgOf(t(s, d, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value")))

  /** Injectable core of ev19 over any (user_id, event_id, ts_us, value)
    * frame — RelationalSpec drives the single-event (NULL span) and
    * equal-timestamp edges the fixture doesn't contain. Domain bound:
    * |value| ≥ 10^10 overflows the DECIMAL(14,4) conversion to NULL,
    * which drops that interval from the integral while its Δt still counts
    * toward the span — callers with larger-magnitude values must widen the
    * scale 4 decimal. The NULL-on-overflow rule is written EXPLICITLY
    * (try_cast / try_sum) so it holds identically under ANSI and legacy
    * modes — this Spark build defaults ansi=true, where a plain cast
    * would THROW at the edge; try_* pins NULL-on-overflow
    * mode-independently (RelationalSpec drives the overflow edge). */
  def timeWeightedAvgOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    ev
      .select(col("user_id"), col("event_id"), col("ts_us"),
        expr("try_cast(value AS DECIMAL(14,4))").as("v"))
      .withColumn("dt", (lead("ts_us", 1).over(w) - col("ts_us")).cast("decimal(20,0)"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        expr("try_sum(v * dt)").as("num"),
        sum(col("dt")).cast("long").as("span_us"))
      .select(col("user_id"), col("n_events"), col("span_us"),
        when(col("span_us") > 0,
          col("num").cast("double") / col("span_us").cast("double")).as("twa"))
      .orderBy("user_id")
  }

  /** Exact per-group median of `__v` over a checkpointed (tix, event_id,
    * __v) relation, computed WITHOUT a per-group window: with only a
    * handful of giant groups (5 event types here; the same at 100 TB),
    * `row_number() OVER (PARTITION BY type)` puts a whole group in one
    * task. Instead the global rank comes from [[Prefix.exclusiveSum]]
    * under a composed pid (`tix·parts + value-bin` — weakly monotone
    * w.r.t. (tix, __v) by construction, so group boundaries never
    * interleave bins), and the within-group rank subtracts the per-group
    * `starts` offsets. Median = avg of the middle one/two ranked values —
    * identical IEEE arithmetic on identical inputs in both engines.
    *
    * `stats` (1 row: mn, mx) and `starts` (one row per tix: n, start) are
    * CALLER-SUPPLIED so a two-pass caller computes each once: the bin
    * bounds only steer partition balance — any bounds enclosing the data
    * yield the same global ranks (weak monotonicity), so pass 2 may derive
    * its bounds from pass 1's stats instead of re-aggregating, and the
    * group sizes are pass-invariant by construction (one dev row per value
    * row). */
  private def groupMedianCore(
      in: DataFrame, stats: DataFrame, starts: DataFrame, as: String): DataFrame = {
    val parts = 8
    val binned = in.crossJoin(broadcast(stats))
    val pid = col("tix") * parts + Prefix.rangeBin(col("__v"), col("mn"), col("mx"), parts)
    val ranked = Prefix.exclusiveSum(
      binned, pid, Seq(col("tix"), col("__v"), col("event_id")), lit(1L), "rk0")
    ranked.join(broadcast(starts), "tix")
      .withColumn("rn", col("rk0") + lit(1L) - col("start"))
      .filter(col("rn") === floor((col("n") + lit(1)) / lit(2)) ||
        col("rn") === floor((col("n") + lit(2)) / lit(2)))
      .groupBy("tix").agg(avg("__v").as(as))
  }

  /** ev18: robust outlier detection — flag events whose value deviates from
    * their type's MEDIAN by more than 3 robust standard deviations, where
    * σ ≈ 1.4826·MAD (the normal-consistency constant; 3·1.4826 = 4.4478).
    * The mean/stddev z-score (ev15) moves with the outliers it is hunting;
    * median/MAD has a 50% breakdown point — the standard robust screen for
    * value-corruption in telemetry. Both medians run through
    * [[groupMedian]]'s two-pass ranked form (no per-type window — 5 types
    * would mean 5 tasks holding everything at scale); the flag predicate
    * multiplies rather than divides, so a zero MAD cannot produce NULLs.
    * Every comparison runs on raw doubles with identical operation order in
    * both engines; the 4-dp rounding is display-only. */
  def madAnomalies(s: SparkSession, d: String): DataFrame =
    // explicit null contract: robust statistics run over PRESENT
    // measurements of KNOWN types — a null value has no deviation and a
    // null type no population. Without the filter the engines silently
    // disagree (null-tier audit): Spark's type index derives from
    // collect_list, which skips nulls, dropping null-typed rows, while
    // the oracle's rank windows make NULL its own partition; and nulls
    // inside a ranked median shift the selected element per engine.
    madAnomaliesOf(t(s, d, "events")
      .filter(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_id"), col("event_type"), col("value")))

  /** Injectable core of ev18 over any (event_id, event_type, value) frame —
    * RelationalSpec drives it with hand-computable odd/even group sizes.
    *
    * Shared-state shape: the tiny relations every stage reuses — the type
    * index, the value stats, the per-group starts — are checkpointed ONCE
    * (bytes each) and broadcast wherever needed; the deviation relation
    * derives from pass 1's checkpointed input rather than a fresh event
    * scan; and pass 2's bin bounds come from pass 1's stats (dev =
    * |v − med| always lies in [0, mx − mn]), eliminating its stats pass.
    * Net: two data-bearing pid shuffles (one per median pass — the
    * inherent floor of two ranked passes over different orders), with
    * every other exchange carrying per-type or per-bin rows. */
  def madAnomaliesOf(ev: DataFrame): DataFrame = {
    // All pins below are LAZY (r15 optimization round): every one is read
    // by ≥2 downstream consumers, but the consumers run sequentially, so
    // the blocks materialize once inside the FIRST consumer's job and the
    // rest read them — identical reuse to the former eager pins, minus
    // four driver-synchronized materialization jobs (each was a launch-
    // latency floor at any SF; at fixture scale they were ~40% of ev18).
    // dense type index without a window: 1-row sorted-list agg, exploded
    val tix = ev.select("event_type").distinct()
      .agg(sort_array(collect_list("event_type")).as("ts"))
      .select(posexplode(col("ts"))).toDF("tix", "event_type")
      .pinLazy()
    val in1 = ev.join(broadcast(tix), "event_type")
      .select(col("tix"), col("event_id"), col("value").as("__v"))
      .pinLazy() // exclusiveSum + dev + output all read these blocks
    val stats1 = in1.agg(min("__v").as("mn"), max("__v").as("mx")).pinLazy()
    val counts = in1.groupBy("tix").agg(count(lit(1)).as("n"))
    val starts = Prefix.triangularOffsets(counts, "tix", "n", "start").pinLazy()
    val med = groupMedianCore(in1, stats1, starts, "med")
    val dv = in1.join(broadcast(med), "tix")
      .withColumn("dev", abs(col("__v") - col("med")))
    val in2 = dv.select(col("tix"), col("event_id"), col("dev").as("__v"))
      .pinLazy()
    // dev ∈ [0, mx − mn] for every group — derived bounds, no second agg
    val stats2 = stats1.select(
      lit(0.0).as("mn"), (col("mx") - col("mn")).cast("double").as("mx"))
    val mad = groupMedianCore(in2, stats2, starts, "mad")
    dv.join(broadcast(mad), "tix")
      .join(broadcast(tix), "tix")
      .filter(col("dev") > col("mad") * lit(4.4478))
      .select(col("event_id"), col("event_type"), col("__v").as("value"),
        round(col("med"), 4).as("med"), round(col("mad"), 4).as("mad"))
      .orderBy("event_type", "event_id")
  }
}
