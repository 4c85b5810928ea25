package graft.operators

import graft.Ckpt.PinOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Ckpt, Tables}
import graft.functions.{Kernels, VectorFunctions}

/** Deduplication operators for a training-data pipeline, on `documents`.
  *
  * Scale notes (the part that matters at 100 TB):
  *  - exact/fingerprint dedup are single hash-shuffles on the dedup key —
  *    the canonical distributed plan; the kept row is chosen by `min(doc_id)`
  *    so the result is deterministic (a bare `dropDuplicates` keeps an
  *    arbitrary row per key).
  *  - pairwise-similarity dedup is O(n²) if done naively; the scale path is
  *    MinHash-LSH: candidates come from banded signature buckets (equi-join,
  *    shuffle on band key), with a bucket-size cap as skew control, and only
  *    candidates pay the exact-Jaccard verification. The brute-force variant
  *    is kept on a deterministic doc_id sample as the correctness oracle.
  */
object Dedup {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))

  /** [[Sampling.idSample]] targets: documents for dd3, dd9, dd10, dd12/dd13
    * and mm4; vectors for dd6 (one codegen'd dot per pair buys more). */
  val SampleDocs = 500L
  val SampleVectors = 2000L

  /** Near-duplicate cuts: word-set Jaccard (dd3, dd4 and what builds on
    * them) and TF-IDF cosine (dd10). */
  val JaccardThreshold = 0.85
  val CosineThreshold = 0.8

  /** Exact dedup: group on the full text, keep the lowest doc_id. */
  def exact(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** A document's fingerprint: md5 of its whitespace-normalized lowercase
    * text (NULL for NULL text). */
  def textFingerprint(text: Column): Column = md5(lower(regexp_replace(text, "\\s+", " ")))

  /** Fingerprint dedup on [[textFingerprint]]. The fingerprint, not the
    * document, is the shuffle key — at 100 TB that is 16 bytes/row instead
    * of the full text. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), textFingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** Exact pairwise word-set Jaccard on a deterministic doc_id sample
    * (oracle for the LSH variant). Intersections come from a token-equi-join
    * — cost Σ_w df(w)², quadratic in sampled docs, so the sample adapts to
    * corpus size ([[Sampling.idSample]] with target [[SampleDocs]], the
    * same arithmetic the oracle SQL computes). Jaccard is a ratio of
    * integer counts ⇒ bit-identical across engines. */
  def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Sampling.idSample(t(s, d, "documents"), "doc_id", SampleDocs)
    // localCheckpoint, not .cache(): Verify/Bench run ~55 queries in one
    // session, and cached relations squat in storage memory until an
    // explicit unpersist (which a lazily-returned plan has no place to
    // call); checkpoint blocks are GC-reclaimed once the query's plan is
    // dropped. Materializing once serves the three consumers (self-join a/b
    // + sizes) without re-deriving the scan+split+explode per branch.
    // (Probed r15 opt round: repartitioning by the join key before the pin
    // buys nothing — a localCheckpoint scans back as UnknownPartitioning
    // on this Spark, so downstream joins re-exchange regardless.)
    val toks = tokens(docs).pinLazy()
    // pinned for the same reason as verifiedJaccard's sizes: joined back
    // twice (na, nb) — unpinned, the size aggregation planned twice (§2.4)
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n")).pinLazy()
    val inter = toks.as("a")
      .join(toks.as("b"), col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    val sa = sizes.select(col("doc_id").as("id_a"), col("n").as("na"))
    val sb = sizes.select(col("doc_id").as("id_b"), col("n").as("nb"))
    inter.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Sparse TF-IDF cosine near-dup pairs — the sparse-vector sibling of
    * [[embeddingNearDup]] (dense) and [[jaccardPairs]] (set-based): weigh
    * tokens by tf·ln(N/df), pair documents through an inverted-index token
    * equi-join (one shuffle keyed by token — never all-pairs), and keep
    * cosine ≥ [[CosineThreshold]]. Same adaptive deterministic sample as
    * dd3: the join is Σ_w df(w)² and this exact form is the oracle for
    * LSH-style scale-out.
    *
    * Cross-engine exactness (the tx9 + q41 rules combined): every product
    * is cast to DECIMAL(28,10) BEFORE summing, so dot products and squared
    * norms accumulate exactly and order-independently; the oracle routes
    * the decimal sums to double via VARCHAR (their unscaled values pass
    * 2^53, where DuckDB's direct decimal→double cast double-rounds); the
    * remaining ops (sqrt, ×, ÷, ≥) are correctly-rounded IEEE on identical
    * inputs. */
  def tfidfCosinePairs(s: SparkSession, d: String): DataFrame = {
    val docs = Sampling.idSample(t(s, d, "documents"), "doc_id", SampleDocs)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .pinLazy() // feeds df-counts, n, and both sides of the pair join
    val n = tf.select("doc_id").distinct().count()
    val dfq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val wt = tf.join(dfq, "w")
      .select(col("doc_id"), col("w"),
        (col("tf") * log(lit(n.toDouble) / col("df"))).as("wt"))
      .pinLazy() // consumed by norms and twice by the pair join
    // pinned: joined back TWICE (na, nb) — unpinned, each join-back planned
    // its own Exchange+HashAggregate over the full wt relation (r16 plan
    // audit), i.e. the norm aggregation ran twice at corpus scale (§2.4)
    val nrm = wt.groupBy("doc_id")
      .agg(sqrt(sum((col("wt") * col("wt")).cast("decimal(28,10)")).cast("double")).as("nrm"))
      .pinLazy()
    val dot = wt.as("a")
      .join(wt.as("b"), col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(sum((col("a.wt") * col("b.wt")).cast("decimal(28,10)")).cast("double").as("dot"))
    dot
      .join(nrm.select(col("doc_id").as("id_a"), col("nrm").as("na")), "id_a")
      .join(nrm.select(col("doc_id").as("id_b"), col("nrm").as("nb")), "id_b")
      .withColumn("cos", col("dot") / (col("na") * col("nb")))
      .filter(col("cos") >= CosineThreshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy("id_a", "id_b")
  }

  private[graft] val NumHashes = 16
  private[graft] val BandSize = 4
  private[graft] val NumBands = NumHashes / BandSize
  /** Skew control: buckets larger than this are dropped from candidate
    * generation (standard LSH practice — a bucket holding k docs contributes
    * k² pairs; hot buckets are near-certainly stopword-like signatures). */
  private[graft] val BucketCap = 150

  /** MinHash signatures via the Kirsch–Mitzenmacher kernel
    * ([[graft.functions.MinhashKernel]]): ONE md5 per distinct token, all
    * NumHashes family members derived as (h1 + i·h2) mod 2⁶¹−1 from the
    * digest's two 60-bit halves. One row per doc, NumHashes long columns —
    * a NARROW two-projection chain (kernel array, then element_at fan-out;
    * CollapseProject leaves the 16-times-referenced kernel alone), no
    * explode, no shuffle, streaming-legal. The hash family stays
    * ENGINE-PORTABLE — DuckDB re-derives the identical values from its own
    * `md5` hex string via the dd5-proven per-digit hex parse plus HUGEINT
    * Mersenne arithmetic — which is what lets dd4/dd8 carry full SQL
    * oracles instead of rows-only checks (see Registry.lshOracleCtes).
    * NULL-text docs are omitted, matching the historical explode+groupBy
    * form (explode of a NULL token array produced no rows) — the streaming
    * twins share this method so stream ≡ batch holds for NULL inputs too. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), Kernels.minhashSignature(col("text"), NumHashes).as("sigarr"))
      .select(col("doc_id") +: (0 until NumHashes).map(i =>
        element_at(col("sigarr"), i + 1).as(s"h$i")): _*)

  /** The kernel's built-ins cross-validation twin: the identical
    * Kirsch–Mitzenmacher family folded with `transform`/`aggregate` HOFs
    * in exact DECIMAL(38,0) arithmetic (h1 + i·h2 < 2⁶⁴ ≪ 10³⁸). Each
    * column re-derives the md5 pair array, so this form pays the old
    * per-(token, i) interpreted cost — kept ONLY as the kernel's spec
    * oracle (DedupSpec asserts bit-identity), never on the query path. */
  private[graft] def signatureColumnsComposable(text: Column): Seq[Column] = {
    val p = lit(BigDecimal(graft.functions.MinhashKernel.P))
    (0 until NumHashes).map { i =>
      val pairs = transform(array_distinct(split(text, " ")),
        w => struct(
          conv(substring(md5(w), 1, 15), 16, 10).cast("decimal(38,0)").as("h1"),
          conv(substring(md5(w), 17, 15), 16, 10).cast("decimal(38,0)").as("h2")))
      aggregate(pairs, lit(graft.functions.MinhashKernel.P),
        (acc, pr) => least(acc,
          pmod(pr.getField("h1") + lit(i).cast("decimal(38,0)") * pr.getField("h2"), p)
            .cast("long"))).as(s"h$i")
    }
  }

  /** Full-signature key (the star-recovery group id): md5 over the
    * "|"-joined signature columns (longs cast to their plain decimal
    * string form — identical to DuckDB's CAST(BIGINT AS VARCHAR)). Shared
    * by [[lshCandidates]] and the streaming at-ingest twin, and mirrored
    * verbatim by dd4/dd8's oracle SQL. */
  def sigKeyColumn: Column =
    md5(concat_ws("|", (0 until NumHashes).map(i => col(s"h$i").cast("string")): _*))

  /** (doc_id, band, sig) band keys of a signature relation — each doc's
    * NumBands bucket coordinates. Shared by the batch candidate stage and
    * the streaming at-ingest twin. */
  def bandKeys(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      val hs = (0 until BandSize).map(i => col(s"h${b * BandSize + i}").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("|", hs: _*)).as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** Candidate-pair stage of [[minhashLsh]]: banded buckets (whole buckets
    * larger than [[BucketCap]] dropped) plus full-signature star groups.
    * Exposed so the streaming at-ingest twin's final state can be compared
    * against EXACTLY this relation (StreamingSpec). */
  def lshCandidates(docs: DataFrame): DataFrame = {
    // The signature relation feeds FOUR consumers (band keys, bucket sizes,
    // full-signature canon groups, star join). Left lazy, each consumer
    // re-derives the token stream; a `.cache()` would squat in storage
    // memory for the rest of a ~55-query Verify/Bench session (the round-1
    // leak). An eager localCheckpoint materializes it once — one row of 17
    // longs per doc — and its blocks are GC-reclaimed with the plan, so no
    // per-query cache accumulates.
    val sigs = minhashSignatures(docs).pinLazy()
    val bands = bandKeys(sigs)

    val bucketSizes = bands.groupBy("band", "sig").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= BucketCap)
    val capped = bands.join(bucketSizes, Seq("band", "sig"))

    val bucketPairs = capped.as("x")
      .join(capped.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))

    // Recall recovery for capped hot buckets, in LINEAR cost: documents
    // sharing the FULL signature (near-certain duplicates — exactly what
    // fills a hot bucket) pair against their group's canonical doc as a
    // star, not pairwise. Still exact-verified below, so precision is
    // unaffected.
    val keyed = sigs.withColumn("sigkey", sigKeyColumn)
    val canon = keyed.groupBy("sigkey")
      .agg(min("doc_id").as("id_a"), count(lit(1)).as("gsz"))
      .filter(col("gsz") > 1)
    val starPairs = keyed.join(canon, "sigkey")
      .filter(col("doc_id") =!= col("id_a"))
      .select(col("id_a"), col("doc_id").as("id_b"))

    bucketPairs.unionByName(starPairs).distinct()
  }

  /** MinHash-LSH near-dup pairs over the FULL table, exact-verified.
    * Pipeline: signatures → band keys → bucket equi-join (capped) →
    * candidate pairs → exact Jaccard filter ≥ 0.85. Output is a subset of
    * the brute-force pairs (verified in DedupSpec), and — because the hash
    * family is the engine-portable md5 one — the whole pipeline is
    * hash-checked against a DuckDB oracle that re-derives signatures,
    * bands, cap, star recovery and exact verification from scratch.
    */
  def minhashLsh(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    // Small pair list (bounded by the bucket cap + linear star pairs);
    // materialize so the verification join starts from stored pairs instead
    // of replaying the whole band/canon pipeline on both join branches.
    val candidates = lshCandidates(docs).pinLazy()

    verifiedJaccard(docs, candidates)
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Exact Jaccard for an explicit candidate-pair set (only candidates pay
    * the token join). Package-visible: the streaming at-ingest twin (st6)
    * verifies its log-reconstructed candidates through EXACTLY this
    * join, so stream and batch share one verification definition. */
  private[graft] def verifiedJaccard(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // The token stream feeds four branches (ta, tb, and sizes twice); lazy,
    // the round-1 physical plan re-derived the scan+split+explode subtree
    // four times (PlanAudit showed 4 `Scan parquet → Generate` copies) —
    // most of dd4's cost. Materialize once; blocks are GC-reclaimed after
    // the query, unlike a leaked `.cache()`.
    val toks = tokens(docs).pinLazy()
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n")).pinLazy()
    val ta = toks.select(col("doc_id").as("id_a"), col("w"))
    val tb = toks.select(col("doc_id").as("id_b"), col("w"))
    val inter = pairs.join(ta, "id_a").join(tb, Seq("id_b", "w"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
    val sa = sizes.select(col("doc_id").as("id_a"), col("n").as("na"))
    val sb = sizes.select(col("doc_id").as("id_b"), col("n").as("nb"))
    inter.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard", col("c") / (col("na") + col("nb") - col("c")))
  }

  /** 64-bit SimHash per document from token hashes: bit b of the signature
    * is the sign of Σ_tokens (±1 from bit b of the token hash). One wide
    * hash aggregation (64 sum columns over the token stream, map-side
    * combined) — a single shuffle of 64 longs per doc, no row explosion
    * (the posexplode formulation shuffles 64× the token count).
    *
    * The token hash is the first 16 hex digits of md5(token) — the same
    * engine-portable family the MinHash signatures use ([[minhashSignatures]]):
    * hex digit i carries bits 4i..4i+3, so bit b = (digitValue(b/4) >> (b%4))
    * & 1 is re-derivable in DuckDB from the identical md5 hex string. The 16
    * digit values are projected once per token (one md5 evaluation), then the
    * 64 sums are shift/mask arithmetic over those — codegen-friendly and the
    * md5 is not re-evaluated per bit. */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = tokens(docs)
    // ONE 15-digit conv + one 1-digit conv per token instead of 16
    // substring+conv pairs (subexpression elimination already shared the
    // md5; the 14 extra substring allocs and base-16 parses were not
    // free). Bit b of digit i (hex digit i+1 of the digest) is
    // (digit >> (b%4)) & 1 — for i<15 the digit is (h60 >> 4*(14−i)) & 15,
    // so the two shifts fold into one; digit 15 rides separately. Values
    // are bit-identical to the per-digit form (the dd5 oracle still
    // derives them digit-by-digit and stays hash-exact).
    val digits = toks.select(
      col("doc_id"),
      graft.functions.PortableHash.md5Hex60("w").as("h60"),
      graft.functions.PortableHash.md5HexDigit16("w").as("d15"))
    val bitSums = (0 until 64).map { b =>
      val bit =
        if (b / 4 < 15) shiftright(col("h60"), 4 * (14 - b / 4) + b % 4)
        else shiftright(col("d15"), b % 4)
      sum(bit.bitwiseAND(lit(1L)) * 2 - 1).as(s"s$b")
    }
    digits.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(
        col("doc_id"),
        (0 until 64).map(i => when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs: 4×16-bit band blocking, then exact Hamming
    * verification ≤ 3 via bit_count(xor) — plus [[lshCandidates]]'s
    * full-signature STAR recovery on the simhash domain: docs sharing the
    * complete 64-bit signature (Hamming 0 — exactly what overfills a band
    * bucket on a duplicate-heavy corpus) pair against their group's
    * min-doc_id canon, linear in group size.
    *
    * The star path was added after the r09 1000× probe measured this
    * operator's drop-over-cap-only policy at ZERO output rows: verbatim
    * 1000-way replication puts every duplicate cluster over [[BucketCap]]
    * in every band, so every true pair was silently dropped — the one
    * dedup operator that lost recall where dd4's cap+star design kept it.
    * With the star, over-cap clusters degrade to their (n−1)-pair spanning
    * star instead of vanishing; sub-cap corpora are unchanged (identical
    * signatures collide in all four bands, so star pairs are a subset of
    * the band pairs there). */
  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    // materialized once (two longs per doc): the banded relation feeds four
    // branches (bucket sizes + the self-join's two sides); see jaccardPairs
    // for why localCheckpoint instead of cache
    val sh = simhash(t(s, d, "documents")).pinLazy()
    val allBanded = sh.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    // same skew control as MinHash-LSH: a band bucket of k docs costs k²
    // candidate pairs, so hot buckets are dropped rather than exploded
    val smallBuckets = allBanded.groupBy("band", "key")
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") <= BucketCap)
    val banded = allBanded.join(smallBuckets, Seq("band", "key"))
    val bandPairs = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      // filter BEFORE distinct: the Hamming predicate is a codegen'd scalar,
      // so evaluating it first means the dedup shuffle only carries the
      // surviving pairs (a pair colliding in k bands appears k times)
      .filter(col("hamming") <= 3)
    // Star recovery (see scaladoc): full-signature groups pair member →
    // min-id canon at Hamming 0. A star pair can also arrive via a sub-cap
    // band bucket with identical values (same ids, hamming 0), so the
    // union-then-distinct dedups cleanly.
    val canon = sh.groupBy("simhash")
      .agg(min("doc_id").as("id_a"), count(lit(1)).as("gsz"))
      .filter(col("gsz") > 1)
    val starPairs = sh.join(canon, "simhash")
      .filter(col("doc_id") =!= col("id_a"))
      .select(col("id_a"), col("doc_id").as("id_b"), lit(0L).as("hamming"))
    bandPairs.unionByName(starPairs)
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** dd7's winnowing k-gram length and window (in k-gram hashes). */
  val WinnowK = 5
  val WinnowW = 4

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash every
    * character k-gram (k = [[WinnowK]]), then keep the minimum hash of each
    * window of w = [[WinnowW]] consecutive k-gram hashes. Guarantees any
    * match of length ≥ w+k-1
    * shares a fingerprint, with ~2/(w+1) density — the standard
    * document-fingerprinting trade. Output: (doc_id, fp) distinct
    * fingerprint set per doc. The hash family is the engine-portable
    * Karp–Rabin of [[graft.functions.WinnowKernel]] (code-point Horner mod
    * 2⁶¹−1), so the ENTIRE pass is re-derivable from DuckDB built-ins —
    * dd7 carries a full hash-checked oracle; properties +
    * kernel≡built-ins equality stay in DedupSpec.
    *
    * Winnowing is per-document sequential work with no cross-row
    * dependency, so the scale-correct plan is a narrow map: the
    * [[graft.functions.WinnowKernel]] computes each doc's fingerprint set
    * in one static call inside whole-stage codegen, and the only
    * shuffle in the query is the output ordering. The composable
    * formulation ([[winnowFingerprintsComposable]]) shuffles one row per
    * corpus CHARACTER for its per-doc window sort — it is kept as the
    * kernel's cross-validation oracle (identical hash family ⇒ identical
    * output, asserted in DedupSpec). */
  def winnowFingerprints(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").filter(length(col("text")) >= WinnowK + WinnowW - 1)
    docs.select(
        col("doc_id"),
        explode(Kernels.winnowFingerprints(col("text"), WinnowK, WinnowW)).as("fp"))
      .orderBy("doc_id", "fp")
  }

  /** The pure-built-ins winnowing formulation (posexplode → hash → sliding
    * window-min → distinct): correct and linear but shuffle-heavy; retained
    * as the oracle for the codegen kernel above. */
  def winnowFingerprintsComposable(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (k, w) = (WinnowK, WinnowW)
    val docs = t(s, d, "documents").filter(length(col("text")) >= k + w - 1)
    // posexplode the k-gram hash array immediately: the generator is a hard
    // plan boundary, so the O(len) transform evaluates ONCE per document.
    // (A nested transform-of-slices formulation gets its projections
    // collapsed by Catalyst and re-evaluates the k-gram array per window —
    // O(len²) interpreted evals; observed as a 15-minute single task.)
    // explode bare positions, hash after: the per-gram Karp–Rabin sum runs
    // inside whole-stage codegen per row instead of an interpreted
    // transform lambda. The gram hash is the EXACT kernel family —
    // Σ code·Base^(k−1−j) mod 2⁶¹−1 — in DECIMAL(38,0) arithmetic
    // (`ascii` = code point, products < 2^82, sum < 5·2^82 ≪ 10^38, all
    // exact), so kernel ≡ composable stays a bit-identity.
    val gramHash: Column => Column = start => {
      import graft.functions.WinnowKernel
      val terms = (0 until k).map { j =>
        ascii(col("text").substr(start + j, lit(1))).cast("decimal(38,0)") *
          lit(BigDecimal(WinnowKernel.powmod(WinnowKernel.Base, k - 1 - j)))
      }
      pmod(terms.reduce(_ + _), lit(BigDecimal(WinnowKernel.P))).cast("long")
    }
    val kgrams = docs.select(
      col("doc_id"),
      length(col("text")).as("len"),
      col("text"),
      posexplode(sequence(lit(1), length(col("text")) - (k - 1))))
      .toDF("doc_id", "len", "text", "pos", "i")
      .select(col("doc_id"), col("len"), col("pos"), gramHash(col("i")).as("h"))
    // winnow = min hash of each w-window, as a sliding window-min per doc —
    // shuffles once on doc_id, linear work, scales to any corpus
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    kgrams
      .withColumn("wmin", min("h").over(win))
      .filter(col("pos") <= col("len") - (k - 1) - (w - 1) - 1)
      .select(col("doc_id"), col("wmin").as("fp"))
      .distinct()
      .orderBy("doc_id", "fp")
  }

  /** Duplicate clusters + keep-list: connected components over the
    * MinHash-LSH near-dup pair graph, the step that turns pairwise
    * similarity into the actual dedup decision (one canonical doc per
    * cluster, everything else dropped).
    *
    * Algorithm: min-label propagation — every node's label converges to
    * the smallest doc_id reachable from it. Each round is one edge-keyed
    * join + min-aggregation (all distributed; the driver sees only the
    * converged-yet? count), and [[connectedComponents]]' hash-to-min steps
    * need O(log d) rounds for diameter d. Near-dup graphs are unions of
    * near-cliques/stars (LSH buckets + full-signature stars), so diameter
    * is small and a few rounds converge. Labels are localCheckpoint'ed
    * EVERY round: iterative
    * self-referential lineage otherwise grows exponentially and re-derives
    * the whole history each action.
    *
    * Output: (doc_id, cluster_id=min reachable doc_id, is_canonical);
    * singleton docs (no near-dup edge) are included as their own cluster,
    * so the keep-list is exactly `is_canonical`. The portable md5 hash
    * family upstream makes the full production pipeline (LSH candidates →
    * CC) oracle-checkable: DuckDB re-derives the verified pair set and
    * closes it with a recursive CTE. Ground-truth union-find comparison
    * stays in DedupSpec. */
  def dupClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = minhashLsh(s, d).select(col("id_a"), col("id_b")).pinLazy()
    val labels = connectedComponents(pairs)
    val docs = t(s, d, "documents").select(col("doc_id"))
    docs.join(labels.select(col("node").as("doc_id"), col("label")), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Duplicate clusters over the ORACLE-EXACT dd3 edge set (dd12): the same
    * [[connectedComponents]] engine as [[dupClusters]], but the input graph
    * is the sampled exact-Jaccard pair list, whose membership is
    * engine-independent — so the cluster labels (min reachable doc_id),
    * cluster sizes and the `is_canonical` keep-list are all
    * DuckDB-checkable (recursive-CTE transitive closure), giving the
    * connected-components engine a hash-green CORRECTNESS row. dd8
    * exercises the full production pipeline (LSH candidates → CC) under
    * its own full oracle (since the r07 md5-family switch); this query
    * isolates the CC math under the exact edge set. Same scale shape as
    * dd8: iteration moves (node, label) pairs only. */
  def dupClustersExact(s: SparkSession, d: String): DataFrame = {
    val withLabel = exactClusterLabels(s, d)
    val sizes = withLabel.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    withLabel.join(sizes, "cluster_id")
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
      .orderBy("doc_id")
  }

  /** dd13: quality-aware canonical selection — what a production corpus
    * pipeline actually keeps from each duplicate cluster is its BEST
    * member, not an arbitrary one. Clusters come from the same oracle-exact
    * dd3 edge set + [[connectedComponents]] as [[dupClustersExact]]; the
    * representative is the member with the highest tx2 quality score
    * (lowest doc_id on ties — deterministic because quality is 4-dp
    * rounded).
    *
    * Scale shape: the argmax is `max(struct(quality, -doc_id))` under a
    * plain groupBy — partially aggregable, so a boilerplate cluster with
    * millions of members reduces map-side to ONE struct per input
    * partition and no task ever holds a whole hot cluster (the
    * `row_number` window alternative would put the entire cluster in one
    * task). The join-back ships one best-row per cluster; AQE's skew split
    * covers the residual hot-cluster probe side. */
  def qualityCanonical(s: SparkSession, d: String): DataFrame = {
    val scored = exactClusterLabels(s, d)
      .join(TextAnalysis.qualityScore(s, d).select("doc_id", "quality"), "doc_id")
    val best = scored.groupBy("cluster_id")
      .agg(max(struct(col("quality"), (-col("doc_id")).as("neg_id"))).as("b"))
      .select(col("cluster_id"), (-col("b.neg_id")).as("best_doc"))
    scored.join(best, "cluster_id")
      .withColumn("keep", col("doc_id") === col("best_doc"))
      .select("doc_id", "cluster_id", "quality", "keep")
      .orderBy("doc_id")
  }

  /** The (sampled doc, cluster_id) relation dd12 and dd13 share: the dd3
    * exact-Jaccard edge set through [[connectedComponents]], singletons
    * labeled by their own id. ONE implementation — dd13's clusters must
    * equal dd12's by construction (RelationalSpec also asserts it at
    * runtime), so the sampling rule and label coalesce live here, not in
    * two copies that could drift. */
  private def exactClusterLabels(s: SparkSession, d: String): DataFrame = {
    val docs = Sampling.idSample(t(s, d, "documents"), "doc_id", SampleDocs).select("doc_id")
    val pairs = jaccardPairs(s, d).select(col("id_a"), col("id_b")).pinLazy()
    docs
      .join(connectedComponents(pairs).select(col("node").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
  }

  /** Connected components over an undirected pair list `(id_a, id_b)`:
    * returns `(node, label)` with label = smallest node id reachable, for
    * every node appearing in at least one pair.
    *
    * Fast path (r15 optimization round, rebuilt from the r14 form —
    * results identical, pinned by DedupSpec's union-find comparisons and
    * the dd8/dd12/dd13 oracles):
    *
    *  - The symmetric edge relation carries SELF-EDGES (u,u) for every
    *    endpoint, so one propagation hop is just `join + min-agg`:
    *    label'(u) = min(label(v) : v ∈ N(u) ∪ {u}) — the former per-hop
    *    left-join + `least` fold (2 joins, 3 exchanges per hop) collapses
    *    to 1 join + 1 partial-aggregated exchange (guide §2.4).
    *  - Each hop except a batch's last runs a HASH-TO-MIN exchange over
    *    its result (Rastogi et al., "Finding Connected Components in
    *    Map-Reduce in Logarithmic Rounds"): every node additionally
    *    PUSHES its new neighborhood min h(u) to its old pointer target
    *    label(u), and PULLS its new target's min h(h(u)) (pointer
    *    jumping / path compression). Label-region stars merge in one
    *    step instead of crawling edge by edge, so convergence is
    *    O(log d) steps on any graph — the sf0.1 near-dup graph that took
    *    14 plain hops converges in 6 steps (2 + 4) (guide §1.2: fix the
    *    algorithm before the constants). Sound because every candidate
    *    value is a component
    *    member's id that is ≤ the receiving node's old label (the
    *    self-edge hop emits every node, so the pointer self-joins are
    *    total), so monotonicity and the fixpoint are unchanged.
    *  - A batch's FINAL step is a plain hop that carries the pre-hop
    *    label through the pin, so the convergence check stays a filter
    *    over the checkpoint (fixpoint detected mid-batch, no extra
    *    all-quiet round — the r14 "old"-carry trick, kept).
    *
    * Rounds stay GEOMETRICALLY batched (2, 4, 8, 8…), each ended by
    * one action, the convergence count. Every step is lazily pinned (an
    * unpinned hash-to-min step references its hop three times, so an
    * unpinned chain is an exponential-copy Catalyst tree). With AQE off
    * the count's job runs the batch's chained shuffle stages; under AQE
    * (Spark's default) each step's pin runs that step's shuffle-map stages
    * as it is built (`Ckpt.pinLazy`), so per-step jobs do not collapse into
    * the count. The rounds run through `Ckpt.rounds`, which releases every
    * pin the current labels no longer read.
    *
    * Termination: the loop runs until a batch changes nothing, with no
    * round cap. Every label is a node id of its component and never
    * increases (each candidate value is ≤ the receiving node's old label),
    * so labels can only fall a finite number of times; and a batch whose
    * final plain hop changes nothing has reached label(u) = min over
    * N(u) ∪ {u} for every u, which holds only when each component carries
    * its minimum id — the fixpoint. Hash-to-min gets there in O(log d)
    * steps (DedupSpec converges a 300-deep chain).
    *
    * Input contract: callers pass DISTINCT pairs (every registry caller
    * emits groupBy/distinct output); duplicate pairs only inflate hop join
    * mass — min-aggregation keeps results identical. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.toDF("id_a", "id_b")
    // symmetric edges + self-edges pinned ONCE (|E|-mass); self-edge
    // duplicates (a node in k pairs contributes k self rows) are harmless
    // under min(). (Probed: pre-partitioning by the hop join key buys
    // nothing — a localCheckpoint scans back as UnknownPartitioning.)
    val symPlus = edges.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(edges.select(col("id_b").as("u"), col("id_a").as("v")))
      .unionByName(edges.select(col("id_a").as("u"), col("id_a").as("v")))
      .unionByName(edges.select(col("id_b").as("u"), col("id_b").as("v")))
      .pinLazy()
    var hops = 0 // propagation hops executed after the fused init hop
    // each round runs a geometric batch (2, 4, 8, 8…) of chained steps and
    // ends in a final plain hop whose output carries the pre-hop label
    val last = Ckpt.rounds(pins =>
      // init = one hop over identity labels: min(v : v ∈ N(u) ∪ {u}) =
      // least(u, min N(u)) — the self-edges fuse the former least() in
      pins(symPlus.groupBy(col("u").as("node")).agg(min("v").as("label"))))(Seq(_)) { (pins, labels, round) =>
      val batch = math.min(8, 1 << round)
      var cur = labels.select("node", "label")
      for (i <- 1 to batch) {
        val hopped = symPlus
          .join(cur.select(col("node").as("v"), col("label")), "v")
          .groupBy(col("u").as("node")).agg(min("label").as("label"))
        cur = pins(
          if (i < batch) {
            // hash-to-min exchange (Rastogi et al.) over the hop result:
            // besides the neighborhood min h(u), every node PUSHES h(u)
            // to its old pointer target label(u) — the mechanism that
            // collapses two merged label-regions into one star in a
            // round — and PULLS (jumps to) its NEW pointer target's own
            // new min, h(h(u)) (path compression over the hop's output).
            // All three candidate streams min-aggregate by
            // node; each value is a component member's id and ≤ the
            // node's old label, so monotonicity and the fixpoint are
            // unchanged. `hopped` is referenced three times — its one
            // exchange is deduped by ReuseExchange, so the hop's shuffle
            // still runs once per step
            val hj = hopped.select(col("node").as("hn"), col("label").as("hl"))
            val push = cur.join(hj, col("node") === col("hn"))
              .select(col("label").as("node"), col("hl").as("label"))
            val pull = hopped.join(hj, col("label") === col("hn"))
              .select(col("node"), col("hl").as("label"))
            hopped.unionByName(push).unionByName(pull)
              .groupBy("node").agg(min("label").as("label"))
          } else {
            // final step of the batch: a PLAIN hop that carries the
            // pre-hop label ("old") through the pin, so the convergence
            // check is a filter over the checkpoint — the final hop
            // changing NOTHING means F(x) = x, detecting the fixpoint
            // MID-batch instead of needing a whole extra all-quiet round
            hopped.join(cur.select(col("node"), col("label").as("old")), "node")
          })
      }
      hops += batch
      cur
    }((cur, round) => round > 0 && cur.filter(col("label") =!= col("old")).count() == 0)
    // round-count visibility for the stress gate (VERDICT r08 #5): the init
    // absorbs hop 1, then each driver round advances a doubling batch of
    // hash-to-min steps
    println(s"[graft.cc] converged after $hops hash-to-min steps (+1 fused in init)")
    last.select("node", "label")
  }

  /** dd9 compares each document's first `EditPrefix` characters and keeps
    * pairs at most `EditMaxDist` edits apart. */
  val EditPrefix = 40
  val EditMaxDist = 10

  /** Fuzzy matching by edit distance on normalized prefixes — the
    * character-level complement to the token-level Jaccard family (catches
    * small in-word edits tokens miss). Levenshtein is O(p²) per pair, so
    * the comparison runs on fixed-length prefixes over the same adaptive
    * deterministic sample as jaccardPairs; distances are integers ⇒
    * oracle-exact. At scale the candidate set would come from an LSH/
    * winnowing blocking stage instead of sampling — this is the exact
    * verifier of that pipeline.
    *
    * Semantics boundary (r08 unicode audit, CLOSED in r09's hostile
    * tier): Spark's levenshtein counts CODE-POINT edits — the standard
    * definition and this operator's contract (DedupSpec pins it on
    * multi-byte strings) — while DuckDB's counts BYTE edits
    * ('café'→'cafe' = 2 there, 1 here). The oracle twin is now exact on
    * multi-byte corpora too: it bijectively relabels every multi-byte
    * code point in the sampled prefixes to a distinct unused single-byte
    * char before levenshtein (edit distance is relabeling-invariant), so
    * byte-lev ≡ code-point-lev — verified on the chained hostile corpus
    * where the skew∘unicode composition put 15 multi-byte near-pairs
    * through the gate (see Registry's dd9 oracle comment). */
  def editDistancePairs(s: SparkSession, d: String): DataFrame = {
    val docs = Sampling.idSample(t(s, d, "documents"), "doc_id", SampleDocs)
      .select(col("doc_id"), substring(col("text"), 1, EditPrefix).as("p"))
    val a = docs.select(col("doc_id").as("id_a"), col("p").as("pa"))
    val b = docs.select(col("doc_id").as("id_b"), col("p").as("pb"))
    a.join(b, col("id_a") < col("id_b"))
      // thresholded levenshtein runs the BANDED O(p·EditMaxDist) DP instead of
      // the full O(p²) matrix and returns -1 past the bound — exact
      // distances for every surviving pair, ~3× cheaper on the rejected
      // majority (measured 6.1 s → 2.3 s at sf0.1)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("pa"), col("pb"), EditMaxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0)
      .orderBy("id_a", "id_b")
  }

  /** Embedding near-dup: all pairs with cosine ≥ 0.4. Brute force here
    * (embeddings table is small even at sf0.1); the LSH-bucketed route for
    * big corpora is Similarity.lshTopK. */
  def embeddingNearDup(s: SparkSession, d: String): DataFrame = {
    // zero-norm exclusion contract (see Similarity.vectors): cosine against
    // a zero vector is 0/0 — ANSI Spark throws, DuckDB special-cases -1.0.
    // Filter BEFORE the sample-modulus count so the oracle's ve-guarded
    // count derives the identical modulus.
    val all = Similarity.vectors(s, d)
    // brute force is O(n²): bound the pair count with the same adaptive
    // deterministic sample rule as jaccardPairs (target SampleVectors);
    // the LSH-bucketed route (Similarity.lshTopK) is the unbounded-n path
    val e = Sampling.idSample(all, "vec_id", SampleVectors)
    // norms are computed once per row before the O(n²) join; each pair then
    // costs a single codegen'd dot product (FloatVectorDot)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      VectorFunctions.normFast(col("embedding")).as("norm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      VectorFunctions.normFast(col("embedding")).as("norm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos",
        VectorFunctions.dotFast(col("va"), col("vb")) / (col("norm_a") * col("norm_b")))
      .filter(col("cos") >= 0.4)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy("id_a", "id_b")
  }
}
