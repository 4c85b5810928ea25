package graft.operators

import graft.Ckpt.PinOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** End-to-end corpus-cleaning pipeline — the composition a training-data
  * build actually runs, as ONE declarative plan: per-document quality
  * scoring and language ID (narrow map, no shuffle), filter to high-quality
  * English, then fingerprint dedup keeping the lowest doc_id per normalized
  * text.
  *
  * Scale shape: the scoring/ID/filter stages are codegen'd projections over
  * the scan (filters evaluated BEFORE the shuffle, so only surviving docs
  * move), and the single shuffle is the dedup's hash partition on the
  * 16-byte md5 fingerprint — not the document text. At 100 TB this is scan
  * → map → one bounded shuffle, the minimal plan for the semantics.
  *
  * Determinism: quality is built from integer-count ratios (bit-identical
  * across engines — see TextAnalysis's scaladoc), the kept doc's stats are
  * selected by `min_by(…, doc_id)` with doc_id unique, and rounding is
  * display-only at the end.
  */
object Pipeline {

  import TextAnalysis.{hitCount, toks, Markers, Stopwords}

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** Minimum quality score a document must reach to survive cleaning. */
  val QualityThreshold = 0.5

  private def quality: Column = {
    val nTok = size(toks).cast("double")
    val stopRatio = hitCount(Stopwords).cast("double") / nTok
    (lit(1.0) - stopRatio) * least(nTok, lit(100.0)) / 100.0
  }

  private def predLang: Column = {
    val hits = Markers.map { case (lang, words) => lang -> hitCount(words) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("unknown"): Column) { case ((lang, h), els) =>
      when(h === best && h > 0, lang).otherwise(els)
    }
  }

  /** The stateless cleaning prefix (quality + language gates) as a
    * reusable transform over any relation with a `text` column. It is a
    * pure narrow map, so the SAME plan fragment runs in batch and under
    * Structured Streaming with no watermark or state — the ingest-time
    * half of the pipeline (StreamingSpec proves stream ≡ batch). */
  def qualityLangFilter(docs: DataFrame): DataFrame =
    docs
      .withColumn("quality", quality)
      .withColumn("pred_lang", predLang)
      .filter(col("pred_lang") === "en" && col("quality") >= QualityThreshold)

  /** Cleaned-corpus summary: one row per kept (deduplicated) document with
    * its duplicate-group size and the kept doc's token count and quality. */
  def cleanCorpus(s: SparkSession, d: String): DataFrame =
    qualityLangFilter(t(s, d, "documents"))
      .select(
        col("doc_id"), col("text"),
        size(toks).cast("long").as("n_tokens"),
        col("quality"), col("pred_lang"))
      .withColumn("fp", Dedup.textFingerprint(col("text")))
      .groupBy("fp")
      .agg(
        min("doc_id").as("keep_id"),
        count(lit(1)).as("n_copies"),
        min_by(col("n_tokens"), col("doc_id")).as("n_tokens"),
        round(min_by(col("quality"), col("doc_id")), 4).as("quality"))
      .select("keep_id", "n_copies", "n_tokens", "quality")
      .orderBy("keep_id")

  /** pp10's shard count. */
  val CurriculumShards = 8

  /** Curriculum shard assignment (pp10): partition the corpus into
    * [[CurriculumShards]] quality-ranked shards of near-equal TOKEN mass — the
    * curriculum-learning layout (schedule high-quality shards first, long
    * tail later). Built at VALUE granularity like the q48 histogram: docs
    * collapse to the (rounded quality, token mass) distribution in one
    * partial-aggregated shuffle, the prefix sum runs over that bounded
    * domain (4-dp qualities ⇒ ≤ 10⁴ values) rather than the corpus via
    * [[Prefix.exclusiveSum]] (two-pass, no single-partition window), and
    * each doc joins its value's shard id back via broadcast. Equal-quality
    * docs share a shard, so the assignment needs no global doc order — the
    * property that keeps it scale-safe AND total-order deterministic. */
  def curriculumShards(s: SparkSession, d: String): DataFrame = {
    val q = t(s, d, "documents")
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        round(quality, 4).as("quality"))
    // corpus-sized agg, consumed by tot + Prefix's three branches
    val v = q.groupBy("quality").agg(sum("n_tokens").as("vt")).pinLazy()
    val tot = v.agg(sum("vt").as("t"))
    // prefix order is quality DESC, so the bin key is (1 - quality): pid
    // then ascends with the prefix order as exclusiveSum requires
    val shards = Prefix.exclusiveSum(
        v.crossJoin(broadcast(tot)),
        Prefix.rangeBin(lit(1.0) - col("quality"), lit(0.0), lit(1.0), 32),
        Seq(col("quality").desc), col("vt"), "cb")
      .withColumn("shard", expr(s"CAST(cb * $CurriculumShards DIV t AS BIGINT)"))
      .select("quality", "shard")
    q.join(broadcast(shards), "quality")
      .select("doc_id", "quality", "n_tokens", "shard")
      .orderBy("doc_id")
  }

  /** pp12: token-budget corpus selection — the mixing step that keeps the
    * highest-quality documents until a token budget is exhausted (greedy
    * by quality DESC, doc_id). Unlike pp10's quality-granular shards, the
    * budget boundary cuts INSIDE a quality tie-group, so the running token
    * total must be per-document: [[Prefix.exclusiveSum]] at doc
    * granularity, pid = the (1 − quality) bin (constant within a
    * tie-group, ascending along the selection order), selected iff the
    * inclusive running total fits the budget (¼ of corpus tokens, derived
    * with integer DIV so both engines floor exactly). Entirely
    * integer/4-dp arithmetic ⇒ oracle-exact; no single-partition window
    * anywhere. */
  def tokenBudgetSelect(s: SparkSession, d: String): DataFrame = {
    // explicit null contract (mirrored in the oracle): only documents WITH
    // text compete for the budget — a null text has no tokens and no
    // quality, and its NULL n_tokens would otherwise thread NULLs through
    // the prefix ranks, diverging per engine (null-tier audit)
    val docs = t(s, d, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        round(quality, 4).as("quality"))
      .pinLazy() // consumed by the budget agg + Prefix's three branches
    val budget = docs.agg(expr("sum(n_tokens) DIV 4").as("budget"))
    Prefix.exclusiveSum(
        docs,
        Prefix.rangeBin(lit(1.0) - col("quality"), lit(0.0), lit(1.0), 32),
        Seq(col("quality").desc, col("doc_id")), col("n_tokens"), "excl")
      .crossJoin(broadcast(budget))
      .withColumn("cum_tokens", col("excl") + col("n_tokens"))
      .withColumn("selected", col("cum_tokens") <= col("budget"))
      .select("doc_id", "n_tokens", "quality", "cum_tokens", "selected")
      .orderBy("doc_id")
  }

  /** THE train/holdout decision, as an expression over any doc-id column:
    * holdout iff the md5 of the id's decimal string starts below 0x1a
    * (26/256 ≈ 10.2%). One definition — pp2 (the split itself), pp13 (the
    * leakage audit's endpoints) and the decontamination shingle derivation
    * all apply this exact expression, so they cannot drift apart. */
  private def splitOf(id: Column): Column =
    when(md5(id.cast("string").cast("binary")) < "1a", lit("holdout"))
      .otherwise(lit("train"))

  /** Deterministic train/holdout split by content-independent hash
    * ([[splitOf]]). The split is a pure narrow map — reproducible across
    * runs, engines, and repartitioning (no RNG, no state), which is the
    * property a training pipeline needs so that re-runs and incremental
    * appends never migrate a document across the split boundary. md5 is
    * computed identically everywhere, so the assignment is oracle-exact. */
  def hashSplit(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), splitOf(col("doc_id")).as("split"))
      .orderBy("doc_id")

  /** Near-duplicate split-leakage audit (pp13): every exact-Jaccard
    * near-dup pair (dd3's relation) whose two documents landed on OPPOSITE
    * sides of the [[hashSplit]] train/holdout boundary — the leakage a
    * content-blind id-hash split cannot prevent (near-identical docs hash
    * independently), and the audit every eval pipeline should run before
    * trusting held-out metrics. Each endpoint's split is the same pure
    * narrow md5 map as pp2 — a function of doc_id, so NO join against the
    * split relation and no new shuffle beyond dd3's own: at 100 TB the
    * audit costs exactly the near-dup pass it composes. Both inputs are
    * oracle-exact, so the leak list is hash-checked end to end.
    *
    * The pair list is PINNED before the endpoint-split filter (r15 opt
    * round): left lazy, Catalyst pushes the two-md5 predicate through
    * dd3's pair aggregation onto the token equi-join output — two md5
    * evaluations per JOINED TOKEN ROW (Σ df² rows) instead of per
    * near-dup pair (measured 4.7 s vs dd3's own 1.6 s at sf0.1; guide
    * §7.2 "duplicated UDF evaluation" — same trap, built-in edition).
    * The pin severs the plan, so the split map runs over the
    * materialized (small by construction) pair list only. */
  def splitLeakage(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairs(s, d).pinLazy()
      .withColumn("split_a", splitOf(col("id_a")))
      .withColumn("split_b", splitOf(col("id_b")))
      .filter(col("split_a") =!= col("split_b"))
      .orderBy("id_a", "id_b")

  /** pp3's context window: `ChunkTokens` tokens every `ChunkStride`. */
  val ChunkTokens = 32
  val ChunkStride = 24

  /** Fixed-size overlapping token chunks ([[ChunkTokens]] tokens every
    * [[ChunkStride]]) —
    * the context-window slicing step before tokenization/packing. Chunk
    * count per doc is ceil(max(n-ChunkTokens,0)/ChunkStride)+1, so every token is
    * covered and short docs yield exactly one chunk. A narrow generator
    * over the token array (rows × chunks/doc, no shuffle); the chunk text
    * is emitted as its md5 so the output stays compact. */
  def chunkDocuments(s: SparkSession, d: String): DataFrame =
    chunkStream(s, d).orderBy("doc_id", "chunk_id")

  /** [[chunkDocuments]] WITHOUT the registered query's output ordering —
    * the composable core. Consumers that re-aggregate (pp11) must build on
    * this form: pinning or aggregating over the ordered wrapper would
    * execute its global sort as a real range-exchange for nothing (the
    * optimizer only elides the sort when it can see the whole plan, which
    * a checkpoint boundary hides). */
  private def chunkStream(s: SparkSession, d: String): DataFrame = {
    val (chunk, stride) = (ChunkTokens, ChunkStride)
    val n = size(col("a"))
    val lastChunk = greatest(
      ceil((n - chunk).cast("double") / stride).cast("int"), lit(0))
    t(s, d, "documents")
      .select(col("doc_id"), toks.as("a"))
      .select(col("doc_id"), col("a"), explode(sequence(lit(0), lastChunk)).as("ci"))
      .select(
        col("doc_id"),
        col("ci").cast("long").as("chunk_id"),
        size(slice(col("a"), col("ci") * stride + 1, lit(chunk))).cast("long").as("n_chunk_tokens"),
        md5(array_join(slice(col("a"), col("ci") * stride + 1, lit(chunk)), " ").cast("binary"))
          .as("chunk_fp"))
  }

  /** Cross-document boilerplate detection (pp11): per document, the
    * fraction of its context-window chunks whose fingerprint also occurs
    * in ANOTHER document — the CCNet-style shared-text metric that flags
    * templated headers/footers and mirrored passages which whole-document
    * dedup can never catch (the documents differ; their pieces do not).
    * Composes [[chunkDocuments]]: the cross-doc duplicated-fingerprint set
    * is one fp-keyed distinct-count aggregation (16-byte keys, never
    * text), joined back fp-keyed, folded per doc. At 100 TB the duplicated
    * set is small relative to the chunk stream — the Bloom-prefilter trick
    * bf1 uses applies verbatim if it ever is not. */
  def boilerplateFraction(s: SparkSession, d: String): DataFrame = {
    // pinned: consumed TWICE (the cross-doc aggregation and the join's
    // probe side) — unpinned, the plan scanned + chunked + md5'd the whole
    // corpus once per branch (r16 plan audit: 2 parquet scans + 2
    // Generates). The pinned relation is (doc_id, 16-byte fp) — compact by
    // construction — so one chunking pass feeds both branches (§2.4).
    val chunks = chunkStream(s, d)
      .select("doc_id", "chunk_fp")
      .pinLazy()
    val crossDoc = chunks.groupBy("chunk_fp")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") > 1)
      .select("chunk_fp")
    chunks.join(crossDoc.withColumn("dup", lit(1L)), Seq("chunk_fp"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup_chunks"))
      .withColumn("boilerplate_frac",
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 4))
      .orderBy("doc_id")
  }

  /** Chunk-level dedup keep-list (dd11's engine side, housed here with its
    * chunking substrate): across the whole corpus, each distinct chunk
    * fingerprint survives exactly ONCE — at its first (doc_id, chunk_id)
    * occurrence — and every document reports how many of its chunks (and
    * token mass) it retains. This is the REWRITE counterpart of pp11's
    * detection: repeated passages are pruned at sub-document granularity,
    * the exact-substring-dedup effect (Lee et al.) whole-document dedup
    * cannot produce. One fp-keyed window (first-occurrence rank) + one
    * doc-keyed fold; only 16-byte fingerprints and counters shuffle. */
  def chunkDedupKeepList(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("chunk_fp").orderBy("doc_id", "chunk_id")
    chunkDocuments(s, d)
      .withColumn("keep", row_number().over(w) === 1)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("keep").cast("long")).as("n_kept_chunks"),
        sum(when(col("keep"), col("n_chunk_tokens")).otherwise(lit(0L))).as("kept_tokens"))
      .orderBy("doc_id")
  }

  /** pp5's IQR multiplier. Tighter than the textbook outlier rule because
    * this corpus's lengths are uniform: a wide fence excludes nothing and
    * would leave the quantile boundary arithmetic untested by the oracle. */
  val OutlierFence = 0.25

  /** IQR outlier filter: keep documents whose token count lies within
    * [q1 − f·IQR, q3 + f·IQR], f = [[OutlierFence]] — the standard
    * stats-based length filter of a cleaning pass. The quantiles come
    * from ONE exact `percentile`
    * aggregate over the 8-byte stats column (not the documents), broadcast
    * back as a 1-row bound; all comparisons are on identically-computed
    * doubles, so the boundary decisions are cross-engine stable. At 100 TB
    * the exact single-group percentile buffers the stats column on one
    * reducer — swap `approx_percentile` (sketch, mergeable) or a
    * distributed rank-select when the stats column itself is too large. */
  def outlierFilter(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), size(toks).cast("double").as("n_tokens"))
    val bounds = docs
      .agg(expr("percentile(n_tokens, array(0.25D, 0.75D))").as("qs"))
      .select(element_at(col("qs"), 1).as("q1"), element_at(col("qs"), 2).as("q3"))
    val iqr = col("q3") - col("q1")
    docs.crossJoin(broadcast(bounds))
      .filter(col("n_tokens") >= col("q1") - lit(OutlierFence) * iqr &&
        col("n_tokens") <= col("q3") + lit(OutlierFence) * iqr)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Corpus mixing: per-source (here per-language) deterministic sampling
    * rates — the data-mixture step that up/down-weights sources to hit a
    * target blend. Rates are dyadic md5-prefix thresholds, so membership
    * is the same reproducible narrow-map decision as [[hashSplit]]:
    * re-runs and appends never flip a document's inclusion. Output is the
    * per-source summary (kept/total), which at any corpus size is one
    * map + one tiny aggregation. */
  def mixCorpus(s: SparkSession, d: String): DataFrame = {
    val h = md5(col("doc_id").cast("string").cast("binary"))
    val kept = when(col("lang") === "en", lit(true))   // rate 1.0
      .when(col("lang") === "de", h < "80")            // rate 0.5
      .when(col("lang") === "es", h < "40")            // rate 0.25
      .when(col("lang") === "fr", h < "20")            // rate 0.125
      .otherwise(h < "1a")                             // rate ~0.1
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), kept.cast("int").as("kept"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"), sum("kept").as("n_kept"))
      .orderBy("lang")
  }

  /** bf1: shingles of `ShingleTokens` words; Bloom pre-pass false-positive
    * rate `BloomFpp`. */
  val ShingleTokens = 5
  val BloomFpp = 0.01

  /** Benchmark decontamination: training documents that share at least one
    * word [[ShingleTokens]]-shingle with any holdout/eval document — the standard
    * contamination sweep run before training. Shape: both sides explode to
    * (doc, shingle-fingerprint) with per-side dedup, then ONE equi-join on
    * the 16-byte md5 of the shingle (an inverted-index probe, not a
    * pairwise document comparison — at 100 TB the eval side's distinct
    * fingerprint set is usually small enough to broadcast, and AQE picks
    * that up from its size). Output: contaminated train doc → number of
    * distinct shared shingles. */
  /** (doc_id, split, sh): every [[ShingleTokens]]-token shingle of every
    * document, tagged
    * with the [[hashSplit]] train/holdout decision, shingle text emitted as
    * md5. Shared derivation for [[decontaminate]] and [[bloomDecontaminate]]. */
  private def shinglesWithSplit(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), toks.as("a"), splitOf(col("doc_id")).as("split"))
      .filter(size(col("a")) >= ShingleTokens)
      .select(col("doc_id"), col("split"),
        explode(transform(
          sequence(lit(0), size(col("a")) - ShingleTokens),
          i => array_join(slice(col("a"), i + 1, lit(ShingleTokens)), " "))).as("sh"))
      .select(col("doc_id"), col("split"), md5(col("sh").cast("binary")).as("sh"))

  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val shingles = shinglesWithSplit(s, d)
    val train = shingles.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), col("sh"))
    val holdout = shingles.filter(col("split") === "holdout")
      .select("sh").distinct()
    // the train side is NOT pre-distincted: folding its dedup into the
    // final countDistinct drops one full shuffle of the shingle stream
    // (measured 12.7 → 10.5 s on the 10× corpus), and the probe side of
    // the index join stays deduped where it pays — the broadcast set
    train.join(holdout, "sh")
      .groupBy("train_id").agg(countDistinct("sh").as("n_shared"))
      .orderBy("train_id")
  }

  /** [[decontaminate]] with a broadcast Bloom-filter pre-pass — the shape
    * that survives 100 TB. The exact shingle join shuffles the ENTIRE train
    * shingle stream (tokens × docs rows) even though almost none of it
    * overlaps the holdout; at scale that shuffle is the pipeline's biggest
    * single cost. Here the holdout's ~10% shingle set is folded into a
    * fixed-size Bloom sketch (built distributed via `stat.bloomFilter`'s
    * tree aggregation, merged bitwise-OR on the driver — order-independent
    * and deterministic), broadcast to every task, and train shingles that
    * cannot be in the holdout are dropped BEFORE the shuffle. Bloom filters
    * have no false negatives, so the surviving exact join returns exactly
    * [[decontaminate]]'s rows — same oracle — while shuffling only the
    * matches plus a [[BloomFpp]] fraction of noise.
    *
    * The one driver-side action (`count` to size the sketch) is a cheap
    * aggregate pre-pass; a production run would size from table stats
    * instead. PipelineSpec asserts bloom ≡ exact on this corpus. */
  def bloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val shingles = shinglesWithSplit(s, d)
    // The distinct holdout set feeds THREE consumers (sizing count, sketch
    // build, exact join) and is small (~10% of docs, deduped 16-byte-ish
    // keys); materialize it once instead of re-deriving the full shingle
    // stream per consumer. The train side stays lazy — it is consumed once
    // and at scale recomputing a narrow map beats storing it.
    val holdout = shingles.filter(col("split") === "holdout")
      .select("sh").distinct().pinLazy()
    val nHoldout = holdout.count()
    val train = shingles.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), col("sh"))
    // graceful empty (a filter-shaped pipeline, unlike the ANN trainers'
    // loud requires): no holdout shingles ⇒ nothing can be contaminated.
    // Spark's bloomFilter aggregate over zero rows yields a sketch with a
    // null bit array that the probe kernel cannot evaluate, so
    // short-circuit to the structurally-empty result instead.
    if (nHoldout == 0)
      return train.groupBy("train_id").agg(countDistinct("sh").as("n_shared"))
        .limit(0).orderBy("train_id")
    val bloom = s.sparkContext.broadcast(holdout.stat.bloomFilter("sh", nHoldout, BloomFpp))
    // the probe is a row kernel (Kernels.bloomMightContainString), fused
    // into the generated stage: a row-lambda here would deserialize every
    // train shingle and break WholeStageCodegen on the one path whose
    // point is that non-matches never reach the shuffle (hh1's CMS pattern)
    val surviving = train.filter(graft.functions.Kernels.bloomMightContainString(col("sh"), bloom))
    surviving.join(holdout, "sh")
      .groupBy("train_id").agg(countDistinct("sh").as("n_shared"))
      .orderBy("train_id")
  }

  /** pp8's cut: the largest share of a document its top bigram may take. */
  val MaxTopBigramFrac = 0.08

  /** Gopher-style repetition filtering (Rae et al. 2021 §A1.1): documents
    * dominated by repeated fragments are boilerplate/spam, measured here as
    *  - `dup_word_frac`: 1 − distinct/total tokens,
    *  - `dup_5gram_frac`: 1 − distinct/total word 5-grams,
    *  - `top_bigram_frac`: share of the most frequent bigram.
    * Keeps documents whose top-bigram share is ≤ [[MaxTopBigramFrac]].
    *
    * Scale shape: the word/5-gram fractions are narrow array ops inside the
    * scan projection (no shuffle); the top-bigram share needs a per-(doc,
    * bigram) count — a doc_id-&-bigram-keyed aggregation with map-side
    * partial combine, then a doc-keyed max/sum. All ratios are integer
    * divisions ⇒ cross-engine exact; rounding is display-only. */
  def repetitionFilter(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), toks.as("a"))
      .filter(size(col("a")) >= 2)
    val base = docs.select(
      col("doc_id"),
      size(col("a")).cast("long").as("n_tokens"),
      (lit(1.0) - size(array_distinct(col("a"))).cast("double") / size(col("a")))
        .as("dup_word_frac"),
      when(size(col("a")) >= 5,
        // distinct over the joined 5-gram strings directly — an earlier
        // form md5'd each one first, which was pure added cost (the string
        // is built either way) plus a collision assumption; counts are
        // identical and the oracle mirrors the no-hash form
        lit(1.0) - size(array_distinct(transform(
          sequence(lit(0), size(col("a")) - 5),
          i => array_join(slice(col("a"), i + 1, lit(5)), " "))))
          .cast("double") / (size(col("a")) - 4))
        .otherwise(lit(0.0)).as("dup_5gram_frac"))
    val topBigram = docs
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("a")) - 2),
        i => concat(element_at(col("a"), i + 1), lit(" "), element_at(col("a"), i + 2))))
        .as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max("c").cast("double") / sum("c")).as("top_bigram_frac"))
    base.join(topBigram, "doc_id")
      .filter(col("top_bigram_frac") <= MaxTopBigramFrac)
      .select(
        col("doc_id"), col("n_tokens"),
        round(col("dup_word_frac"), 4).as("dup_word_frac"),
        round(col("dup_5gram_frac"), 4).as("dup_5gram_frac"),
        round(col("top_bigram_frac"), 4).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Identifier redaction — the strip-PII-before-training pass. Each
    * (pattern → replacement) pair is applied in order with a codegen'd
    * `regexp_replace`, and the redaction count is audited per record so the
    * pipeline can alert on unexpectedly identifier-dense sources. A pure
    * narrow map: no shuffle, streams unchanged under Structured Streaming.
    * Patterns stay in the portable regex subset (character classes,
    * quantifiers) that Java and RE2-family engines read identically. */
  def redact(df: DataFrame, column: String,
      patterns: Seq[(String, String)]): DataFrame = {
    val redacted = patterns.foldLeft(col(column)) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, rep)
    }
    val nRedactions = patterns.map { case (pat, _) =>
      regexp_count(col(column), lit(pat))
    }.reduce(_ + _)
    df.withColumn("redacted", redacted)
      .withColumn("n_redactions", nRedactions.cast("long"))
  }

  /** Registered redaction query: event payloads (type + user id + JSON
    * props) with every digit run — ids, counters, numeric values — masked
    * as `<NUM>`. Real pipelines add email/phone/SSN patterns to the same
    * `redact` call; digit runs are what this synthetic corpus contains. */
  def redactEvents(s: SparkSession, d: String): DataFrame = {
    val payload = t(s, d, "events").select(
      col("event_id"),
      concat(col("event_type"), lit(" uid="), col("user_id").cast("string"),
        lit(" "), col("props")).as("payload"))
    redact(payload, "payload", Seq("[0-9]+" -> "<NUM>"))
      .select("event_id", "redacted", "n_redactions")
      .orderBy("event_id")
  }

  /** pp4 packs bins of about `PackTarget` tokens over `PackShards` shards. */
  val PackTarget = 256
  val PackShards = 8

  /** Contiguous sequence packing: per shard (doc_id mod [[PackShards]], so the
    * operation is embarrassingly parallel), documents are laid out in
    * doc_id order and a document belongs to bin ⌊tokens-before-it /
    * PackTarget⌋ — fixed token-budget split points over each shard's stream.
    * The per-shard running sum is a window over the shard partition, so no
    * global ordering is ever required; shard count scales with the
    * cluster, and each bin holds ≈PackTarget tokens. */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, d, "documents")
      .select(col("doc_id"), (col("doc_id") % PackShards).as("shard"),
        size(toks).cast("long").as("n_tokens"))
      .withColumn("bin",
        floor(coalesce(sum("n_tokens").over(w), lit(0L)) / PackTarget).cast("long"))
      .select("doc_id", "shard", "bin", "n_tokens")
      .orderBy("doc_id")
  }
}
