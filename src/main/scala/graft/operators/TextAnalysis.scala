package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ckpt.PinOps
import graft.Tables
import graft.functions.Kernels

/** Text-analysis operators over `documents` — token statistics, quality
  * scoring, marker-word language ID, n-gram profiling. Everything is
  * composed from codegen'd built-ins (split / higher-order array functions),
  * no UDFs, so the whole pipeline stays in WholeStageCodegen and
  * distributes as a pure map + aggregate.
  *
  * Determinism: all ratios are divisions of exact integer counts, which are
  * bit-identical across engines; scores are rounded for display only.
  */
object TextAnalysis {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  private[operators] val toks: Column = split(col("text"), " ")

  private[operators] def hitCount(words: Seq[String]): Column =
    size(filter(toks, w => w.isInCollection(words))).cast("long")

  /** Token counting: whitespace tokens + distinct-token vocabulary size. */
  def tokenStats(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      .orderBy("doc_id")

  private[operators] val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Quality scoring: length / stopword-ratio / vocabulary-diversity
    * heuristics of the kind a pretraining filter applies. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val nTok = size(toks).cast("double")
    val nStop = hitCount(Stopwords).cast("double")
    val nDistinct = size(array_distinct(toks)).cast("double")
    // chars excluding the (n-1) separator spaces, over token count
    val avgWordLen = (length(col("text")) - (size(toks) - 1)) / nTok
    val stopRatio = nStop / nTok
    val diversity = nDistinct / nTok
    t(s, d, "documents")
      .select(
        col("doc_id"),
        col("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        round(avgWordLen, 4).as("avg_word_len"),
        round(stopRatio, 4).as("stop_ratio"),
        round(diversity, 4).as("diversity"),
        round((lit(1.0) - stopRatio) * least(nTok, lit(100.0)) / 100.0, 4).as("quality"))
      .orderBy("doc_id")
  }

  private[operators] val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "los", "y"),
    "fr" -> Seq("le", "les", "des", "et"))

  /** Marker-word language ID (n-gram-heuristic family): argmax of per-
    * language stopword hit counts, fixed priority order on ties. */
  def languageId(s: SparkSession, d: String): DataFrame = {
    val hits = Markers.map { case (lang, words) => lang -> hitCount(words) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    val pred = hits.foldRight(lit("unknown"): Column) { case ((lang, h), els) =>
      when(h === best && h > 0, lang).otherwise(els)
    }
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), pred.as("pred_lang"))
      .orderBy("doc_id")
  }

  /** BPE-ish regex tokenization (letter runs / digit runs / single
    * non-space symbols — the pre-tokenizer shape BPE vocabularies use),
    * contrasted with plain whitespace splitting. */
  def regexTokens(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("n_re_tokens"),
        size(toks).cast("long").as("n_ws_tokens"))
      .orderBy("doc_id")

  private val TrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", " of"),
    "de" -> Seq("der", "sch", "ein"),
    "es" -> Seq("los", "ión", "que"),
    "fr" -> Seq("les", "eau", "oux"))

  /** Character-n-gram language ID — the n-gram-heuristic family proper
    * (tx3 is its marker-WORD sibling): per language, sum the occurrence
    * counts of a small characteristic trigram profile, argmax with fixed
    * priority on ties. Occurrences are counted in place by the codegen'd
    * [[graft.functions.CountOccurrences]] kernel — the oracle keeps the
    * equivalent replace trick `(len(text) − len(replace(text, tri))) / 3`
    * (same non-overlapping left-to-right match set), which previously ran
    * here too: 12 probed trigrams meant 12 full text copies per document
    * for counts that need zero allocation. */
  def charNgramLanguageId(s: SparkSession, d: String): DataFrame = {
    def hits(tris: Seq[String]): Column =
      tris.map(Kernels.countOccurrences(col("text"), _)).reduce(_ + _).cast("long")
    val scores = TrigramProfiles.map { case (lang, tris) => lang -> hits(tris) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pred = scores.foldRight(lit("unknown"): Column) { case ((lang, h), els) =>
      when(h === best && h > 0, lang).otherwise(els)
    }
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), pred.as("pred_lang"),
        scores.find(_._1 == "en").get._2.as("en_tri"))
      .orderBy("doc_id")
  }

  /** tx6: words seen fewer than `VocabMinCount` times get no id; ids are
    * assigned over `VocabIdPartitions` ranges ([[Prefix.rankedIds]]). */
  val VocabMinCount = 5
  val VocabIdPartitions = 32

  /** Vocabulary building: corpus-frequency-ranked token ids (the id table a
    * tokenizer trains against). The count is one token-keyed aggregation;
    * ids are then assigned by global (cnt DESC, w) rank WITHOUT a global
    * window — vocabulary grows with the corpus (Heaps' law), so a
    * single-partition `row_number` would put tens of millions of rows in
    * one task at 100 TB. Instead, [[Prefix.rankedIds]] — the two-pass
    * ranked-id plan (range-partition by the sort key, partition-local
    * row_number, count offsets); the (cnt DESC, w) keys are unique as the
    * primitive requires, and ties on cnt rank lexicographically so ids are
    * total and cross-engine stable. */
  def vocabulary(s: SparkSession, d: String): DataFrame = {
    val vocab = t(s, d, "documents")
      .select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= VocabMinCount)
    Prefix.rankedIds(vocab, Seq(col("cnt").desc, col("w").asc), VocabIdPartitions, "rn")
      .withColumn("token_id", col("rn").cast("long"))
      .select("token_id", "w", "cnt")
      .orderBy("token_id")
  }

  /** Terms kept per document by [[tfidfTopTerms]] (tx8). */
  val TopTerms = 3

  /** TF-IDF keyword extraction: the top-[[TopTerms]] terms per document by
    * tf · ln(N/df) — the classic relevance weighting a corpus-analysis /
    * retrieval stage computes.
    *
    * Scale shape: term frequencies are one (doc, term)-keyed aggregation
    * over the exploded token stream (map-side combined); document
    * frequencies are a term-keyed count over that SAME relation (vocabulary
    * scale, ≪ corpus); the join back is term-keyed, where the df side is
    * vocabulary-sized and broadcastable. The per-doc top-k window
    * partitions by doc_id — no global sort anywhere. N comes from a
    * parquet metadata count.
    *
    * Determinism: scores are rounded to 1e-6 BEFORE ranking on (score,
    * term), so rank order cannot depend on sub-ulp ln() differences between
    * engines. */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = t(s, d, "documents").count() // metadata-only on parquet
    val tf = t(s, d, "documents")
      .select(col("doc_id"), explode(toks).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      // two consumers (df counts + the score join): materialize the token
      // explode + aggregate once (lazy — r15 opt round)
      .pinLazy()
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "w")
      .withColumn("tfidf", round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6))
    val rankW = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("w"))
    scored
      .withColumn("rk", row_number().over(rankW).cast("long"))
      .filter(col("rk") <= TopTerms)
      .select("doc_id", "rk", "w", "tf", "df", "tfidf")
      .orderBy("doc_id", "rk")
  }

  /** Unigram-LM surprisal — the perplexity-proxy quality signal (CCNet-
    * style LM filtering, with the corpus's own unigram model standing in
    * for the external LM): per document, the mean token surprisal
    * Σ tf·ln(T/cnt(w)) / n_tokens. Unusually-improbable token mixes (spam,
    * boilerplate, wrong-language residue) score high.
    *
    * Scale shape: term frequencies and the corpus vocabulary are the same
    * two aggregations as [[tfidfTopTerms]]; the model side (vocab + 1-row
    * total) is broadcast-scale. Determinism: each per-(doc,term) surprisal
    * contribution is cast to DECIMAL(28,10) before the per-doc sum, so the
    * accumulation is exact and summation-order-independent — a raw double
    * sum would vary across partitionings, let alone engines. */
  def tokenSurprisal(s: SparkSession, d: String): DataFrame = {
    val tf = t(s, d, "documents")
      .select(col("doc_id"), explode(toks).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      // three consumers (vocab → total, and the model join): materialize
      // the token explode + aggregate once (lazy — r15 opt round)
      .pinLazy()
    val vocab = tf.groupBy("w").agg(sum("tf").as("cnt"))
    val total = vocab.agg(sum("cnt").as("t"))
    tf.join(vocab, "w")
      .crossJoin(broadcast(total))
      .withColumn("term",
        (col("tf") * log(col("t").cast("double") / col("cnt"))).cast("decimal(28,10)"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"), sum("term").as("sum_term"))
      .select(
        col("doc_id"), col("n_tokens"),
        round(col("sum_term").cast("double") / col("n_tokens"), 4).as("avg_surprisal"))
      .orderBy("doc_id")
  }

  /** tx10's add-α smoothing constant. */
  val BigramAlpha = 0.5

  /** Bigram-LM cross-entropy scoring (tx10) — the CCNet/C4-style
    * "perplexity filter": train an add-α-smoothed (α = [[BigramAlpha]]) bigram language model on
    * the corpus itself, then score every document by its average negative
    * log-likelihood under that model (perplexity = exp of this; the exp is
    * left to the consumer because ln is cross-engine exact on this data
    * and exp is not). High avg_nll = text the corpus-level model finds
    * improbable — boilerplate, garbled or off-distribution documents.
    *
    * Three aggregations, all partial-map-side: per-doc bigram term
    * frequencies (so the model join touches distinct (doc, bigram) pairs,
    * not occurrences), corpus bigram counts, and context counts — then one
    * model join keyed by bigram. Per-term NLL contributions are cast to
    * DECIMAL(28,10) before the per-doc sum (exact, summation-order-
    * independent — the tx9 contract), so the score is bit-stable under any
    * partitioning and matches the oracle exactly after the final round. */
  def bigramCrossEntropy(s: SparkSession, d: String): DataFrame = {
    val tf = t(s, d, "documents")
      .select(col("doc_id"), toks.as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("a")) - 2),
        i => struct(
          element_at(col("a"), i + 1).as("u"),
          element_at(col("a"), i + 2).as("v")))).as("b"))
      .select(col("doc_id"), col("b.u").as("u"), col("b.v").as("v"))
      .groupBy("doc_id", "u", "v").agg(count(lit(1)).as("tf"))
      // three consumers (model counts via big→ctx, and the probe side of
      // the model join) — materialize the bigram explode + aggregate once
      // (lazy: blocks land inside the first consumer's job; r15 opt round)
      .pinLazy()
    val big = tf.groupBy("u", "v").agg(sum("tf").as("cuv"))
    val ctx = big.groupBy("u").agg(sum("cuv").as("cu"))
    val vocab = t(s, d, "documents")
      .select(explode(toks).as("w")).agg(countDistinct("w").as("vsz"))
    tf.join(big, Seq("u", "v")).join(ctx, Seq("u"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll",
        (col("tf") * -log((col("cuv") + lit(BigramAlpha)) /
          (col("cu") + lit(BigramAlpha) * col("vsz")))).cast("decimal(28,10)"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"), sum("nll").as("snll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("snll").cast("double") / col("n_bigrams"), 4).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** One row per word-bigram occurrence across the corpus — the shared
    * expansion under [[topBigrams]] and [[heavyHitterBigrams]]. A flat map
    * (explode) with no shuffle. The token array is materialized in its own
    * projection first: referencing `split(...)` directly inside the
    * transform lambda re-splits the text per element (O(len²)/doc — 22 s
    * vs 2 s at 50 k docs). */
  private def bigramStream(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(toks.as("a"))
      .filter(size(col("a")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("a")) - 2),
        i => concat(element_at(col("a"), i + 1), lit(" "), element_at(col("a"), i + 2)))).as("bigram"))

  /** Corpus bigram profile: top-20 word bigrams — one partial-aggregated
    * count shuffle keyed by bigram over [[bigramStream]]. */
  def topBigrams(s: SparkSession, d: String): DataFrame =
    bigramStream(s, d)
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  /** hh1: a heavy hitter makes up ≥ 1/`HeavyHitterDenom` of all bigram
    * occurrences; `HeavyHitterEps` is its Count-Min pre-pass's error. */
  val HeavyHitterDenom = 800L
  val HeavyHitterEps = 0.0001

  /** Heavy-hitter n-grams with a Count-Min-Sketch pre-pass — the frequency
    * sibling of the Bloom pattern in `Pipeline.bloomDecontaminate`: find
    * every bigram occurring at least `totalCount / HeavyHitterDenom` times WITHOUT
    * shuffling the full bigram stream.
    *
    * Pass 1 folds the stream into a fixed-size CMS (`stat.countMinSketch`
    * — built distributed, merged cell-wise on the driver; merge is integer
    * addition, so the sketch is order-independent and deterministic), whose
    * `totalCount` also supplies the threshold with no extra action. Pass 2
    * re-streams the bigrams, keeps only those the broadcast sketch says MAY
    * reach the threshold, and exact-counts the survivors. A CMS only ever
    * OVER-estimates, so no true heavy hitter can be dropped — the final
    * exact filter returns exactly the rows of a direct group-by-and-filter,
    * and the query shares that direct form's DuckDB oracle.
    *
    * At 100 TB the tail vocabulary (trillions of near-unique n-grams) never
    * reaches the shuffle: only candidates — true hitters plus the sketch's
    * bounded eps·N overcount band — are hash-partitioned. TextSpec asserts
    * sketch-prefiltered ≡ exact on this corpus. */
  def heavyHitterBigrams(s: SparkSession, d: String): DataFrame = {
    val bi = bigramStream(s, d)
    val cms = bi.stat.countMinSketch("bigram", HeavyHitterEps, 0.99, seed = 42)
    val threshold = math.max(1L, cms.totalCount() / HeavyHitterDenom)
    val sketch = s.sparkContext.broadcast(cms)
    // the probe is a row kernel (Kernels.cmsProbeAtLeast), fused into the
    // generated stage: a row-lambda here would deserialize every bigram and
    // break WholeStageCodegen on the one path whose point is that the tail
    // never reaches the shuffle
    bi
      .filter(Kernels.cmsProbeAtLeast(col("bigram"), sketch, threshold))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .orderBy("bigram")
  }
}
