package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Per-query reference seconds — the minimum of the two most recent
    * recorded driver benches per short code (r05/r06 for the original
    * entries; q24/q32 re-referenced from r07 warm readings after their
    * portable-sketch conversions changed their cost class); queries
    * without history default to 1.0 s. Used ONLY by the outlier re-time
    * rule below, never as a pass/fail gate. */
  private val RefSeconds: Map[String, Double] = Map(
    // bp3 referenced from its registration round's certified bench pair
    // (r09): 12 distributed delta rounds, per-round job latency is the
    // floor; in-bench readings run ~6 s (isolated warm TimeQuery ~3.7)
    "bf1" -> 3.87, "bp1" -> 0.64, "bp2" -> 1.61, "bp3" -> 5.5,
    "dd1" -> 0.45, "dd10" -> 5.24,
    "dd11" -> 1.39, "dd12" -> 4.13, "dd13" -> 3.44, "dd2" -> 1.75, "dd3" -> 1.18,
    // dd5 refreshed r09-continuation: the star-recovery form reads
    // 1.8/1.99 in the certified pair (the canon agg is map-side combined)
    "dd4" -> 3.74, "dd5" -> 1.8, "dd6" -> 3.04, "dd7" -> 0.84, "dd8" -> 6.98,
    "dd9" -> 1.98, "ev1" -> 0.54, "ev10" -> 0.81, "ev11" -> 1.19, "ev12" -> 0.85,
    "ev13" -> 0.98, "ev14" -> 0.85, "ev15" -> 0.91, "ev16" -> 0.75, "ev17" -> 0.74,
    "ev18" -> 3.91, "ev19" -> 0.83, "ev2" -> 1.01, "ev3" -> 0.49, "ev4" -> 0.31,
    "ev5" -> 0.86, "ev6" -> 0.55, "ev7" -> 0.58, "ev8" -> 0.39, "ev9" -> 0.51,
    "gr1" -> 5.1, "gr2" -> 1.42, "hh1" -> 0.95, "ly1" -> 0.36, "mm1" -> 0.42,
    "mm2" -> 0.32, "mm3" -> 0.33, "mm4" -> 0.56, "mm5" -> 0.21, "pp1" -> 0.72,
    "pp10" -> 1.35, "pp11" -> 0.88, "pp12" -> 0.62, "pp13" -> 3.41, "pp2" -> 0.22,
    "pp3" -> 0.37, "pp4" -> 0.32, "pp5" -> 0.46, "pp7" -> 0.35, "pp8" -> 1.8,
    "pp9" -> 0.8, "q01" -> 0.78, "q02" -> 0.5, "q03" -> 1.18, "q04" -> 0.57,
    "q05" -> 0.45, "q06" -> 0.37, "q07" -> 0.25, "q08" -> 0.57, "q09" -> 0.56,
    "q10" -> 1.12, "q11" -> 1.1, "q12" -> 0.58, "q13" -> 0.54, "q14" -> 0.16,
    "q15" -> 0.33, "q16" -> 0.36, "q17" -> 0.28, "q18" -> 0.3, "q19" -> 0.54,
    // q24/q32 re-referenced r08 after the Md5Bits64 kernel + q24's fused
    // register key cut their oracle premium (warm TimeQuery at sf0.1)
    "q20" -> 0.32, "q21" -> 0.28, "q22" -> 0.6, "q23" -> 0.8, "q24" -> 1.0,
    "q26" -> 0.58, "q27" -> 0.57, "q28" -> 0.74, "q29" -> 1.25, "q30" -> 1.23,
    "q31" -> 1.92, "q32" -> 0.95, "q33" -> 0.48, "q34" -> 0.41, "q35" -> 1.37,
    "q36" -> 1.02, "q37" -> 0.52, "q38" -> 0.69, "q39" -> 0.64, "q40" -> 0.73,
    "q41" -> 1.06, "q42" -> 2.2, "q43" -> 0.47, "q44" -> 0.39, "q45" -> 1.13,
    "q46" -> 1.51, "q47" -> 0.84, "q48" -> 1.37, "q49" -> 0.75, "sj1" -> 0.59,
    "sj2" -> 0.54, "sm1" -> 0.17, "sm2" -> 0.22, "sm3" -> 0.47, "ss1" -> 0.45,
    "ss2" -> 0.49, "ss4" -> 1.69, "ss5" -> 1.3, "ss6" -> 4.9, "ss7" -> 0.39,
    // st family (r10): the rows register through StFamily — the FIRST st
    // row Bench reaches (st1, alphabetical order) launches all eight
    // streaming harnesses CONCURRENTLY and its reading is the family's
    // end-to-end wall-clock; st2–st8 read as single-shot cache fetches
    // (each still re-executes its final sort + noop write over the
    // checkpointed result). A re-time of any st row re-runs the whole
    // family live (entries are consumed on fetch), so st1's reference is
    // the family launch cost, not a per-operator floor. Re-referenced r13:
    // micro-batch counts grew through r11/r12 and the recorded family
    // wall-clock now reads ~12.6 s (BENCH_r12) — at 9.0 the 2x re-time
    // trigger (18 s) sat inside observed launch variance.
    "st1" -> 12.5,
    "st2" -> 0.5, "st3" -> 0.5, "st4" -> 0.5, "st5" -> 0.5,
    "st6" -> 0.5, "st7" -> 0.5, "st8" -> 0.5,
    "tx1" -> 0.27, "tx10" -> 2.41, "tx2" -> 0.42, "tx3" -> 0.57,
    "tx4" -> 0.45, "tx5" -> 0.4, "tx6" -> 1.01, "tx7" -> 1.28, "tx8" -> 2.01,
    "tx9" -> 1.53)

  /** Render the one-line bench JSON under a hard length budget (pure,
    * pinned by BenchSpec). The driver parses the LAST 2000 chars of sbt
    * output and the line must fit there WHOLE — r13's lesson is that a
    * binary guard is worse than none: the `calib` field's 13 chars pushed
    * the full line past the old 1800 cutoff and the fallback dropped
    * EVERYTHING per-query, so the bench-of-record lost the `queries` map,
    * `retimed`, and `jitter_suspect` — the exact evidence the r13 retime
    * policy exists to publish. Evidence now degrades in TIERS, cheapest
    * first, and the per-query map is the LAST thing to go:
    *   1. full: queries + errors + retimed map + suspect list + fam flag
    *   2. drop the fam flag
    *   3. retimed map -> retimed_n count
    *   4. suspect list -> jitter_suspect_n count
    *   5. drop the queries map (counts + error map survive)
    *   6. last resort, provably minimal: errors map -> errors_n and the
    *      calib_end / host_scale extras dropped — every remaining field
    *      is a bounded count or fixed-width number, so this tier always
    *      fits (r15 advisor fix: the old last tier still carried an
    *      up-to-10-entry error map + calib_end and could overflow)
    * Query/retimed seconds are 1-decimal — run-to-run jitter on this host
    * class dwarfs 0.05 s (BASELINE.md), and the ~134 saved chars keep the
    * full tier affordable at the 134-query registry. `fam:1` encodes what
    * was a ~100-char prose marker: st1 carries the concurrent st-family
    * wall-clock and st2-st8 are cache fetches (see RefSeconds note).
    * `reread_errors_n` (r13 advisor) records that a re-read FAILED during
    * escalation — the first reading stands as the row of record, but the
    * host-degradation signal must not vanish from the artifact. */
  private[graft] def renderLine(
      total: Double, calib: Double,
      queries: Seq[(String, Double)],
      errors: Seq[(String, String)],
      retimed: Seq[(String, Double)],
      suspects: Seq[String],
      rereadErrors: Int,
      stFam: Boolean,
      sfDir: String,
      calibEnd: Double = -1.0,
      budget: Int = 1800,
      hostScale: Double = -1.0,
      stFamilySec: Double = -1.0): String = {
    def fmt2(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    def fmt1(v: Double) = BigDecimal(v).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
    val qsJson = queries.map { case (k, v) => "\"" + k + "\":" + fmt1(v) }
      .mkString(""","queries":{""", ",", "}")
    val errN = if (errors.isEmpty) "" else s""","errors_n":${errors.size}"""
    val errJson =
      if (errors.isEmpty) ""
      else if (errors.size <= 10)
        errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
          .mkString(""","errors":{""", ",", "}")
      else errN
    val rtMap =
      if (retimed.isEmpty) ""
      else retimed.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt1(v) }
        .mkString(""","retimed":{""", ",", "}")
    val rtN = if (retimed.isEmpty) "" else s""","retimed_n":${retimed.size}"""
    val jsArr =
      if (suspects.isEmpty) ""
      else suspects.sorted.map("\"" + _ + "\"")
        .mkString(""","jitter_suspect":[""", ",", "]")
    val jsN = if (suspects.isEmpty) "" else s""","jitter_suspect_n":${suspects.size}"""
    val rre = if (rereadErrors > 0) s""","reread_errors_n":$rereadErrors""" else ""
    // calib_end (r14): a second identical probe AFTER the last query. The
    // start probe alone can misprice a run — this session's final pair read
    // calib 2.17 vs 1.26 back-to-back while totals moved only 1.11x — and a
    // start/end bracket distinguishes "host was slow throughout" from
    // "host degraded (or recovered) mid-run", which per-query evidence
    // alone cannot. Omitted when the end probe failed (-1).
    val ce = if (calibEnd > 0) s""","calib_end":${fmt2(calibEnd)}""" else ""
    // host_scale (r15, verdict item 7): the re-time allowance factor the
    // run actually applied (min(2.5, max(1.0, calib/1.10)); see main), so
    // the trigger maths is readable from the artifact alone without
    // recomputing calib/1.10. Omitted when the probe failed (-1).
    val hs = if (hostScale > 0) s""","host_scale":${fmt2(hostScale)}""" else ""
    def line(q: String, err: String, rt: String, js: String, fam: String,
             extras: String) =
      s"""{"metric":"total","value":${fmt2(total)},"unit":"sec","calib":${fmt2(calib)}$extras$q$err$rt$js$fam$rre,"sf":"$sfDir"}"""
    // st_family (r16, verdict item 8): the family's concurrent wall-clock
    // under its OWN key, so PERF consumers reading the per-query map do not
    // have to reconstruct it from st1 (whose row doubles as the launch
    // carrier) — ADDITIVE only: every stN entry stays exactly as measured
    // (the driver contract forbids removing or renaming query entries),
    // and the value is NOT added to the total (st1 already carries it).
    // Degrades with the fam flag (same information class, same tier).
    val stFamSec =
      if (stFam && stFamilySec >= 0) s""","st_family":${fmt1(stFamilySec)}""" else ""
    val famFlag = if (stFam) ""","fam":1""" + stFamSec else ""
    val tiers = Seq(
      line(qsJson, errJson, rtMap, jsArr, famFlag, ce + hs),
      line(qsJson, errJson, rtMap, jsArr, "", ce + hs),
      line(qsJson, errJson, rtN, jsArr, "", ce + hs),
      line(qsJson, errJson, rtN, jsN, "", ce + hs),
      line("", errJson, rtN, jsN, "", ce + hs),
      // provably-minimal floor: only bounded counts and fixed-width
      // numbers remain — the one tier that can never itself overflow
      line("", errN, rtN, jsN, "", ""))
    tiers.find(_.length <= budget).getOrElse(tiers.last)
  }

  /** Escalating re-time policy (pure, pinned by BenchSpec). Given a
    * query's first reading, its reference floor, and a re-read thunk:
    * re-measure when the first reading exceeds max(1.5 s, 2x ref) — once
    * unconditionally (the r07 min-of-2 rule), then up to two MORE reads
    * while the running minimum still exceeds max(1.5 s, 5x ref). Returns
    * (best reading, the discarded first reading when any re-read improved
    * on it, jitter-suspect flag: best still >5x ref after the budget).
    * Negative readings are error sentinels (time-to-failure): never a
    * minimum candidate, never suspect, never re-timed — and a FAILED
    * re-read stops the escalation immediately (a query that succeeded
    * once and then fails on re-run signals a degrading host; burning the
    * remaining read budget on it is waste, and the successful first
    * reading stands — r13 review). `canRetime=false` (st2-st8 cache
    * fetches) skips re-reads but still applies the suspect marker — an
    * inflated fetch is host noise the record must not misrepresent as
    * plan cost. */
  private[graft] def retimePolicy(first: Double, ref: Double, canRetime: Boolean,
                                  reread: () => Double): (Double, Option[Double], Boolean) = {
    var best = first
    if (first >= 0 && first > math.max(1.5, 2.0 * ref) && canRetime) {
      var reads = 0
      var continue = true
      while (continue) {
        val again = reread()
        reads += 1
        if (again >= 0 && again < best) best = again
        continue = again >= 0 && reads < 3 && best > math.max(1.5, 5.0 * ref)
      }
    }
    val suspect = best >= 0 && best > math.max(1.5, 5.0 * ref)
    (best, Some(first).filter(_ => best < first), suspect)
  }

  /** `local[SPARK_GRAFT_CPUS]` with as many shuffle partitions and no env
    * passthrough — fixed, so bench lines compare across rounds; pinned by
    * SessionPolicySpec. */
  private[graft] def sessionPolicy(env: Map[String, String]): SessionPolicy = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SessionPolicy(s"local[$cpus]", cpus)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = sessionPolicy(sys.env).build()
    // Warm up the JVM/codegen/scan paths once so per-query numbers reflect
    // steady state rather than first-query class-loading; queries run in
    // name order for run-to-run comparability.
    // The timed action is a noop-format write, not count(): under count()
    // Catalyst prunes unreferenced projections and drops top-level sorts, so
    // e.g. q02's revenue column was never computed — noop executes the full
    // plan (every column, every sort) and discards rows at the sink.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q01_pricing_summary").foreach(run)
    } catch {
      // a warm-up failure (e.g. unreadable sfDir) must be diagnosable —
      // silently swallowed it would surface only as uniformly-cold firsts
      case e: Throwable => println(s"[bench] warm-up failed: ${e.getMessage}")
    }
    // Streaming-machinery warm-up, same rationale: the FIRST streaming
    // query in a JVM pays ~4-5 s of one-time loading (micro-batch planner,
    // state-store provider, offset/commit log classes) that otherwise lands
    // entirely on the alphabetically-first st row — measured 7.8-9.5 s
    // first readings vs 3.6 s warm for st1, tripping the re-time rule in
    // 3 of 4 fresh-JVM runs. One tiny stateful AvailableNow query into a
    // noop sink loads the lot; its input is synthesized, so this cannot
    // mask an unreadable sfDir.
    try graft.tools.StatefulProbe.run(spark)
    catch {
      case e: Throwable => println(s"[bench] streaming warm-up failed: ${e.getMessage}")
    }
    // Host-speed calibration (r13): a fixed, corpus-independent CPU+shuffle
    // probe — 100M xxhash64'd longs through a 1024-group hash aggregate and
    // a final sort, noop-written — timed once after warm-up and reported as
    // "calib" in the JSON. The total stays RAW; the calibration field
    // prices the VM class so cross-round totals become comparable
    // (BASELINE.md r12→r13: same-code totals swung 140→236 s across round
    // hosts and 194.9→235.5 s run-to-run on one host — without a recorded
    // host-speed datum every cross-round delta is unattributable). Never
    // fatal: a failed probe records -1 and the bench proceeds.
    def calibProbe(): Double =
      try {
        val t0 = System.nanoTime()
        spark.range(0L, 100000000L, 1L, 32)
          .selectExpr("xxhash64(id) AS h")
          .selectExpr("pmod(h, 1024) AS g", "h")
          // bit_xor, not sum: 97k ~2^63-magnitude hashes per group overflow
          // a long sum under ANSI; xor is overflow-free and still forces
          // the full map-side combine + shuffle
          .groupBy("g").agg(org.apache.spark.sql.functions.expr("bit_xor(h)").as("x"),
            org.apache.spark.sql.functions.count("*").as("c"))
          .orderBy("g")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          println(s"[bench] calibration probe failed: ${e.getMessage}"); -1.0
      }
    val calibSec: Double = calibProbe()
    // Calib-scaled re-time references (r13 verdict item 7): RefSeconds are
    // fast-host sf0.1 floors, and on the r13 VM class the 2x triggers fired
    // broadly on honest readings — each trigger costs a full re-run, so a
    // slow host paid minutes re-measuring truth. The in-run calib probe
    // prices the host: scale the references by calib/1.10 (1.10 = the
    // fastest idle probe reading on record, BASELINE.md), floored at 1.0 so
    // a fast host never weakens the guard and capped at 2.5 so a
    // pathological probe cannot disable re-timing outright. A failed probe
    // (calib = -1) leaves the references unscaled.
    val hostScale =
      if (calibSec > 0) math.min(2.5, math.max(1.0, calibSec / 1.10)) else 1.0
    // A query that throws must not masquerade as a fast success: its timing
    // is recorded NEGATIVE (time-to-failure) and its name+message land in an
    // "errors" object, excluded from the total.
    var errors = Map.empty[String, String]
    // Optional isolation harness: SPARK_GRAFT_ONLY=tx6,tx7 retimes a subset
    // under the exact same warmup/noop-write methodology as the full run —
    // used for variance-vs-regression audits (BASELINE.md), never by the
    // driver (unset ⇒ full registry).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Isolating a subset of st rows without SPARK_GRAFT_ST_SOLO times the
    // full concurrent family launch on the first row reached, not the row
    // itself — warn loudly so an isolation audit can't misread the number.
    val stCodes = graft.streaming.StFamily.members.keySet
    only.foreach { sel =>
      val st = sel.intersect(stCodes)
      if (st.nonEmpty && st != stCodes && !sys.env.contains("SPARK_GRAFT_ST_SOLO"))
        println(s"[bench] WARNING: SPARK_GRAFT_ONLY selects ${st.mkString(",")} " +
          "without SPARK_GRAFT_ST_SOLO=1 — the first st reading is the FULL " +
          "family launch, not the row's own cost")
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name.takeWhile(_ != '_'))) }
    def code(n: String): String = n.takeWhile(_ != '_')
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { run(fn); true }
        catch {
          case e: Throwable =>
            errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(80)
            false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      if (ok) sec else -sec
    }
    val firstPass = selected.map { case (name, fn) => name -> timed(name, fn) }
    // Outlier re-time (the bench-of-record variance guard, BASELINE.md):
    // three consecutive rounds saw individual queries spike 3-7x in the
    // recorded full run with zero code changes, while isolated retiming
    // read them at baseline — one-off host wobble (page-cache eviction, GC
    // coincidence, competing load) writing fictions into the round's
    // official file. A first reading more than 2x the query's recorded
    // reference (floor 1.5 s) is re-measured IN THE SAME SESSION and
    // the smallest value is reported: min-of-N is a better point estimate
    // of plan cost because timing noise is strictly additive. Genuine
    // regressions still surface — a real slowdown reproduces across every
    // re-run and all readings agree.
    //
    // Escalation (r13, after the r12 bench breach): min-of-2 assumed host
    // noise does not reproduce on the IMMEDIATE re-run, and the r12 VM
    // class broke that assumption — tx5 read 53.9 s then 22.04 s against
    // a 0.40 s floor (both >50x inflated) while the same HEAD at the 10x
    // stress corpus read 1.19 s, and ROUND12.md §5 demonstrates >20x
    // same-JVM scheduling jitter on identical warm plans over cached
    // data. So: when the running minimum STILL exceeds 5x the query's
    // reference after the first re-run, keep re-measuring (up to 4
    // readings total); a row whose best-of-4 still exceeds 5x ref is
    // emitted with a "jitter_suspect" marker so the artifact itself
    // distinguishes measured-slow from host-jittered — a genuine 5x
    // regression reproduces 4/4, demonstrated jitter does not.
    var retimed = Map.empty[String, Double] // code -> discarded first reading
    var suspects = List.empty[String] // codes whose best reading stayed >5x ref
    var rereadErrors = 0 // re-reads that FAILED mid-escalation (host degrading)
    // RefSeconds are sf0.1 readings; when benching a different corpus size
    // (the 10x stress gate), SPARK_GRAFT_REF_SCALE multiplies them so the
    // re-time rule measures against a size-appropriate reference instead
    // of re-running half the registry (r08 stress recorded retimed_n: 30
    // without it). The driver's sf0.1 run never sets it => unchanged.
    // Parse defensively: a malformed value must not kill the bench before
    // any timing is recorded — log and fall back to unscaled.
    val refScale = sys.env.get("SPARK_GRAFT_REF_SCALE").map { v =>
      scala.util.Try(v.toDouble).getOrElse {
        println(s"[bench] unparseable SPARK_GRAFT_REF_SCALE '$v', using 1.0"); 1.0
      }
    }.getOrElse(1.0)
    // st2–st8 are single-shot cache fetches whose family entries were
    // consumed in the first pass: a re-time would relaunch the ENTIRE
    // family (~9 s) yet min-of-2 keeps the first reading, so the re-run
    // cost is pure waste and a genuinely slow fetch can never be
    // corrected — exempt them. st1 stays re-timeable: its reading IS a
    // family launch, so a second launch is the like-for-like re-measure.
    // Under SPARK_GRAFT_ST_SOLO every st row is a genuine standalone run
    // (StFamily.solo bypasses the launcher), so the exemption — and the
    // family attribution marker below — must not apply (r11 advisor).
    val stSolo = sys.env.contains("SPARK_GRAFT_ST_SOLO")
    val stFetchRows =
      if (stSolo) Set.empty[String]
      else graft.streaming.StFamily.members.keySet - "st1"
    val results = firstPass.map { case (name, sec) =>
      // the 1.0 s missing-ref default stays UNSCALED by refScale (it is a
      // floor for queries with no history, not an sf0.1 reading to
      // extrapolate) but DOES take the host scale — a no-history query is
      // as entitled to a slow-host allowance as any other
      val ref = RefSeconds.get(code(name)).map(_ * refScale).getOrElse(1.0) * hostScale
      // A re-read failure must not file the query under "errors": the
      // artifact contract says errors are excluded from the total, but the
      // SUCCESSFUL first reading is kept and counted — recording both
      // makes the JSON self-contradictory (r13 review). The policy's
      // negative sentinel already stops the escalation; the error text is
      // dropped here (the first reading is the row of record) but the
      // degradation EVENT is counted into reread_errors_n (r13 advisor).
      val rereadClean = () => {
        val before = errors
        val v = timed(name, SparkEntry.queries(name))
        if (v < 0) { errors = before; rereadErrors += 1 }
        v
      }
      val (best, discardedFirst, suspect) = retimePolicy(sec, ref,
        canRetime = !stFetchRows.contains(code(name)),
        reread = rereadClean)
      discardedFirst.foreach(f => retimed += code(name) -> f)
      if (suspect) suspects ::= code(name)
      name -> best
    }
    // The driver parses the LAST 2000 chars of sbt output, and the JSON line
    // must fit there WHOLE (r01–r03 all recorded parsed:null; even 2-decimal
    // full-name keys were ~3.7k chars for 80+ queries). Keys are therefore
    // the unambiguous short codes (q01, dd4, …) — the prefix before the first
    // underscore, unique across the registry; tier degradation inside
    // renderLine handles everything else (the r13 calib-overflow lesson).
    require(results.map(r => code(r._1)).distinct.size == results.size,
      "short query codes must stay unique for the bench JSON")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // fam flag (since r10, prose->flag r14): st rows run as ONE concurrent
    // family — st1 carries the family wall-clock, st2-st8 are cache
    // fetches — flagged in the artifact itself so a cross-round per-query
    // diff does not read the structure as a 7x st2-st8 speedup.
    val stFam = !stSolo && results.exists(r => stCodes.contains(code(r._1)))
    println(renderLine(
      total = total, calib = calibSec,
      queries = results.map { case (k, v) => code(k) -> v },
      errors = errors.toSeq.sortBy(_._1).map { case (k, v) =>
        code(k) -> v.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(40) },
      retimed = retimed.toSeq,
      suspects = suspects,
      rereadErrors = rereadErrors,
      stFam = stFam,
      sfDir = sfDir,
      calibEnd = calibProbe(),
      // emit the APPLIED allowance only — a failed start probe means the
      // references ran unscaled, and the line already shows calib:-1
      hostScale = if (calibSec > 0) hostScale else -1.0,
      // the family wall-clock is st1's (re-timed) reading — the launch row
      stFamilySec = results.collectFirst {
        case (n, v) if code(n) == "st1" && v >= 0 => v
      }.getOrElse(-1.0)))
    spark.stop()
  }
}
