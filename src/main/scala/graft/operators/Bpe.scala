package graft.operators

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Ckpt, Tables}

/** Distributed byte-pair-encoding merge learning — the vocabulary-training
  * step of a tokenizer pipeline (tx5 is its pre-tokenizer; tx6 the word
  * vocabulary). Classic BPE (Sennrich et al., "Neural Machine Translation
  * of Rare Words with Subword Units"): start from characters, repeatedly
  * merge the most frequent adjacent symbol pair.
  *
  * Scale shape: BPE learns over the DISTINCT-word frequency table, not the
  * token stream — at 100 TB the stream is trillions of rows but the word
  * table is tens of millions, and it is built with the engine's ordinary
  * partial-aggregated count. The LEARNING loop is then a hybrid, keyed on
  * the word table's size (the corpus-side word count and the corpus encode
  * are always distributed):
  *
  *  - word table fits on the driver (≤ [[DriverVocabLimit]] rows): run
  *    Sennrich's INDEXED incremental learner in memory
  *    ([[learnMergesDriver]]) — one full pair count, then each round
  *    touches only the words the inverted pair→word index names. No
  *    per-round corpus scan, no per-round Spark job; the merge loop is
  *    O(touched words) per round regardless of vocabulary size. This is
  *    the shape every production BPE trainer uses (the word table is
  *    vocab-scale even for trillion-token corpora), and it removes the
  *    per-round job-launch floor that dominates the distributed form.
  *  - word table larger than the driver bound: the distributed
  *    delta-maintained form ([[learnMergesDistributed]]) — each round is
  *    (a) a TakeOrdered(1) argmax over the carried pair table, (b) a
  *    retract/add pair delta computed from ONLY the words containing the
  *    winning pair, (c) one narrow re-encode map, with per-round lazy
  *    localCheckpoints truncating lineage (the same iterative-lineage rule
  *    as `Dedup.connectedComponents`). NOTE the per-round delta shrinks
  *    SHUFFLE mass to the touched vocabulary, but the affected-word filter
  *    and re-encode still SCAN the word table each round — the distributed
  *    form is the memory-safety fallback, not the fast path.
  *
  * Both paths produce bit-identical merge sequences (BpeSketchSpec pins
  * each against an independent sequential reference, including randomized
  * corpora).
  *
  * Determinism: pair counts are exact long sums; the argmax tie-breaks
  * lexicographically on (left, right); the merge application is Java
  * regex's left-to-right non-overlapping replacement, which is exactly
  * greedy BPE ("a a a" under merge (a,a) → "aa a"). BpeSpec proves the
  * distributed learner identical to a sequential reference implementation.
  */
object Bpe {

  /** End-of-word marker appended as a separate initial symbol, so merges
    * never cross word boundaries and word-final units stay distinct. */
  val EndOfWord = "</w>"

  /** Merges learned by bp1/bp2/bp3; the bp oracles unroll the same count. */
  val NumMerges = 12

  /** Word tables at or under this row count are collected and learned
    * driver-side ([[learnMergesDriver]]); larger ones take the distributed
    * path. 1M distinct words ≈ tens of MB on the driver — far under any
    * real vocabulary-table size (even trillion-token corpora distill to a
    * word table in the millions), so the distributed path is a
    * memory-safety fallback for adversarial vocabularies, not the norm. */
  val DriverVocabLimit: Int = 1 << 20

  /** The regex that rewrites every whole-symbol occurrence of the pair
    * `(l, r)` in a space-separated symbol stream. `\A`/`\z` anchor at the
    * true ends of the input; `$` would also match before a final line
    * terminator, where the padded-`contains` filter of
    * [[learnMergesDistributed]] does not. With these anchors a stream
    * matches exactly when `" " + sym + " "` contains `" " + l + " " + r +
    * " "`, so the filter and the replace agree by construction
    * (BpeMergePatternSpec). */
  private[graft] def mergePattern(l: String, r: String): String =
    "(?<=\\A| )" + Pattern.quote(l + " " + r) + "(?= |\\z)"

  /** Registry query (bp1): learn [[NumMerges]] merges over the `documents`
    * word-frequency table. Output: one row per learned merge,
    * `(rank, left, right, merged, cnt)` in learning order. Full DuckDB
    * oracle since r06 (NumMerges unrolled merge-round CTEs — see
    * Registry.bpeOracleCtes); BpeSpec holds the ground truth. */
  def learnMerges(s: SparkSession, d: String): DataFrame =
    learnMergesFrom(wordFreqs(s, d), NumMerges)

  /** Registry query (bp3): bp1's learning with the driver path DISABLED
    * (`driverVocabLimit = 0`), forcing [[learnMergesDistributed]] — the
    * delta-maintained path a beyond-driver-vocabulary corpus takes at
    * 100 TB. Output is bit-identical to bp1 by the exactness argument
    * (the carried pair table equals a full recount at every round, same
    * argmax tie-break), so it shares bp1's unrolled-CTE oracle — the
    * point of registering it is that the distributed learner now carries
    * its own recorded CORRECTNESS row instead of spec-only evidence
    * (BpeSketchSpec) for the path that actually runs at scale. */
  def learnMergesDistributedQuery(s: SparkSession, d: String): DataFrame =
    learnMergesFrom(wordFreqs(s, d), NumMerges, driverVocabLimit = 0)

  /** The distinct-word frequency table both learners train on. */
  private def wordFreqs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Registry query (bp2): the encode path — learn [[NumMerges]] merges,
    * then apply them to every document and emit per-doc subword stats plus
    * a fingerprint of the encoded symbol stream. The encode is ONE narrow
    * projection (the merge table is a per-query constant riding in the
    * plan; the corpus never shuffles) through the single-pass
    * [[graft.functions.BpeEncodeKernel]] — the chained-regex formulation
    * ([[encodeCorpusBuiltins]]) re-traverses every document once per merge
    * and measured 6.3× slower at the 10× corpus (49.7 s → 7.9 s, with the
    * residual dominated by the shared learn phase), bit-identical output.
    *
    * Deterministic given the corpus (learner determinism + deterministic
    * replacement) — full DuckDB oracle since r06 (the bp1 merge CTEs plus
    * a doc-stream replace chain, see Registry); BpeSketchSpec
    * proves kernel ≡ regex chain ≡ sequentially applying the reference
    * merges word by word. */
  def encodeCorpus(s: SparkSession, d: String): DataFrame =
    encodeWith(Tables(s, d, "documents"), learnedMergePairs(s, d))
      .orderBy("doc_id")

  /** The kernel encode as a reusable transform over any `(doc_id, text)`
    * relation, given an already-learned merge table. A pure stateless
    * narrow map, so the SAME plan fragment runs under Structured Streaming
    * with no watermark or state — tokenize-at-ingest, the deployment shape
    * where the vocabulary is trained once and applied to every arriving
    * batch (StreamingSpec proves stream ≡ batch). */
  def encodeWith(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs
      .select(col("doc_id"), graft.functions.Kernels.bpeEncode(col("text"), merges).as("sym"))
      .select(
        col("doc_id"),
        // zero-token contract (extreme tier): an empty symbol stream has 0
        // subwords — size(split("", " ")) would count 1
        when(length(col("sym")) === 0, lit(0L))
          .otherwise(size(split(col("sym"), " ")).cast("long")).as("n_subwords"),
        md5(col("sym").cast("binary")).as("encoded_fp"))

  /** [[encodeCorpus]] in pure built-ins: the anchored-regex greedy
    * replacement chained once per merge. Correct and shuffle-free but
    * O(merges) passes over every document — kept as the kernel's oracle
    * (BpeSketchSpec asserts bit-identical output). */
  def encodeCorpusBuiltins(s: SparkSession, d: String): DataFrame = {
    val merges = learnedMergePairs(s, d)
    val docs = Tables(s, d, "documents")
      // materialize the token array before the per-word lambda (O(len²) trap)
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => length(w) > 0).as("ws"))
      .select(col("doc_id"), array_join(
        transform(col("ws"), w =>
          concat(array_join(filter(split(w, ""), c => length(c) > 0), " "),
            lit(" " + EndOfWord))), " ").as("sym"))
    val encoded = merges.foldLeft(docs) { case (df, (l, r)) =>
      df.withColumn("sym", regexp_replace(col("sym"), mergePattern(l, r), Matcher.quoteReplacement(l + r)))
    }
    encoded
      .select(
        col("doc_id"),
        // zero-token contract — mirrors encodeWith
        when(length(col("sym")) === 0, lit(0L))
          .otherwise(size(split(col("sym"), " ")).cast("long")).as("n_subwords"),
        md5(col("sym").cast("binary")).as("encoded_fp"))
      .orderBy("doc_id")
  }

  /** Learn and collect the merge table in rank order — the bounded driver
    * action both encode forms share (NumMerges rows of (left, right)). */
  private def learnedMergePairs(s: SparkSession, d: String): Seq[(String, String)] =
    learnMerges(s, d)
      .orderBy("rank")
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq

  /** Σ freq·(adjacent symbol pairs) of an encoding — the pair-count
    * relation the learner maintains. The symbol array is materialized in
    * its own projection first (the O(len²) re-split trap — see
    * TextAnalysis.bigramStream). Negative `freq` rows subtract, which is
    * how the incremental learner retracts an affected word's old pairs. */
  private def pairCountsOf(enc: DataFrame): DataFrame = enc
    .select(col("freq"), split(col("sym"), " ").as("a"))
    .filter(size(col("a")) >= 2)
    .select(col("freq"), explode(transform(
      sequence(lit(0), size(col("a")) - 2),
      i => struct(
        element_at(col("a"), i + 1).as("left"),
        element_at(col("a"), i + 2).as("right")))).as("p"))
    .groupBy(col("p.left").as("left"), col("p.right").as("right"))
    .agg(sum("freq").as("cnt"))

  /** Core learner over any `(w: string, freq: long)` word-frequency
    * relation — the hybrid dispatcher (see the object doc for the scale
    * argument). The size probe is a bounded `limit(n+1).collect()`: when
    * the table is small it IS the collect the driver path needs; when it
    * is large, CollectLimit short-circuits after `n+1` rows and the
    * distributed path proceeds without a full materialization. */
  def learnMergesFrom(
      words: DataFrame,
      numMerges: Int,
      driverVocabLimit: Int = DriverVocabLimit): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    val probe =
      if (driverVocabLimit <= 0) Array.empty[(String, Long)]
      else words.limit(driverVocabLimit + 1).collect()
        .map(r => (r.getString(0), r.getLong(1)))
    if (driverVocabLimit > 0 && probe.length <= driverVocabLimit)
      learnMergesDriver(probe.toSeq, numMerges)
        .toDF("rank", "left", "right", "merged", "cnt")
    else learnMergesDistributed(words, numMerges)
  }

  /** Sennrich's indexed incremental learner, in memory, over a collected
    * word-frequency table. One full pair count up front; every round finds
    * the argmax pair (exact long counts, (cnt DESC, left, right)
    * tie-break — identical to the distributed form), re-encodes ONLY the
    * words the inverted pair→word index lists for that pair, and
    * retract/adds their pair counts. Index entries are never eagerly
    * cleaned on retraction; a stale entry is skipped by the
    * contains-the-pair recheck at use. A pair of two pre-existing symbols
    * can never be newly CREATED by a merge (new adjacencies always involve
    * the new merged symbol), so the index never misses a word.
    *
    * Complexity per round: O(touched words × their length) for the delta
    * plus O(|pair table|) for the argmax scan — the same shape as the
    * published subword-nmt trainer. No corpus scan, no Spark job. */
  /** UTF-8-binary (≡ code-point) string order — the order BOTH engine
    * comparisons use (Spark's UTF8String is byte-wise UTF-8, DuckDB's
    * VARCHAR is memcmp). Java's String.compareTo is UTF-16 CODE-UNIT
    * order, which ranks supplementary-plane symbols (emoji, U+10000+)
    * BEFORE U+E000..U+FFFF — so a driver-side tie-break using it would
    * diverge from the distributed path and the oracle exactly on
    * multi-byte corpora (r09 unicode tier). */
  private val codePointOrder: Ordering[String] = (x: String, y: String) => {
    val n = math.min(x.length, y.length)
    var i = 0
    var cmp = 0
    while (cmp == 0 && i < n) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(i)
      cmp = Integer.compare(cx, cy)
      i += Character.charCount(cx) // equal prefixes consume equal units
    }
    if (cmp != 0) cmp else Integer.compare(x.length, y.length)
  }

  private[graft] def learnMergesDriver(
      words: Seq[(String, Long)],
      numMerges: Int): Seq[(Long, String, String, String, Long)] = {
    import scala.collection.mutable
    // split by CODE POINT, not UTF-16 unit: `w.map(_.toString)` would cut
    // an emoji into two unpaired surrogates where the distributed path
    // (split on '', code-point) and the oracle (string_split '') do not
    val corpus: Array[Vector[String]] = words.map { case (w, _) =>
      w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))).toVector :+ EndOfWord
    }.toArray
    val freq: Array[Long] = words.map(_._2).toArray

    def pairsOf(syms: Vector[String]): Iterator[(String, String)] =
      if (syms.length < 2) Iterator.empty
      else syms.iterator.zip(syms.iterator.drop(1))

    val counts = mutable.Map.empty[(String, String), Long]
    val index = mutable.Map.empty[(String, String), mutable.Set[Int]]
    def applyDelta(i: Int, syms: Vector[String], sign: Long): Unit =
      for (p <- pairsOf(syms)) {
        val c = counts.getOrElse(p, 0L) + sign * freq(i)
        if (c == 0L) counts.remove(p) else counts(p) = c
        if (sign > 0L) index.getOrElseUpdate(p, mutable.Set.empty) += i
      }
    for (i <- corpus.indices) applyDelta(i, corpus(i), 1L)

    // greedy left-to-right non-overlapping replacement ≡ the distributed
    // form's anchored regexp_replace ("a a a" under (a,a) → "aa a")
    def applyMerge(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }

    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var rank = 1L
    while (rank <= numMerges && counts.nonEmpty) {
      val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }(
        Ordering.Tuple3(Ordering.Long, codePointOrder, codePointOrder))
      merges += ((rank, l, r, l + r, c))
      for (i <- index.getOrElse((l, r), mutable.Set.empty[Int]).toArray.sorted) {
        val old = corpus(i)
        // stale-entry recheck: the word may have lost the pair since it
        // was indexed (an earlier merge round rewrote it)
        if (pairsOf(old).contains((l, r))) {
          applyDelta(i, old, -1L)
          corpus(i) = applyMerge(old, l, r)
          applyDelta(i, corpus(i), 1L)
        }
      }
      index.remove((l, r))
      rank += 1
    }
    merges.result()
  }

  /** The distributed delta-maintained learner — the memory-safety fallback
    * for word tables too large to collect. The pair-count table is built in
    * full ONCE and then carried across rounds, each round retracting the
    * pre-merge pairs of the affected words (those whose encoding contains
    * the winning pair) and adding their post-merge pairs. Exact long
    * arithmetic ⇒ the carried table equals a full recount at every round,
    * so the merge sequence (argmax with the (cnt DESC, left, right)
    * tie-break) is bit-identical to the non-incremental form AND to
    * [[learnMergesDriver]] — BpeSketchSpec pins both against a sequential
    * reference, including on randomized corpora. Per-round SHUFFLE mass is
    * |affected-word pair stream| + |distinct pair table|, but the
    * affected-word filter and re-encode still scan the stored word table
    * each round, and each round launches its own jobs — a real-vocab run
    * (30k+ merges) needs the driver path's inverted index. */
  private[graft] def learnMergesDistributed(words: DataFrame, numMerges: Int): DataFrame = {
    val s = words.sparkSession
    // one round's encoding, its carried pair table and the argmax over it,
    // collected once: `done` tests it and the next round merges it
    final class Round(val cur: DataFrame, val pairCounts: DataFrame) {
      lazy val best: Option[Row] = pairCounts
        .orderBy(col("cnt").desc, col("left"), col("right"))
        .limit(1)
        .collect().headOption
    }
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    Ckpt.rounds { pins =>
      // initial encoding: space-separated characters plus the EOW symbol
      val cur = pins(words
        .select(
          col("freq"),
          concat(
            array_join(filter(split(col("w"), ""), c => length(c) > 0), " "),
            lit(" " + EndOfWord)).as("sym")))
      // the ONE full corpus-wide pair count; delta-maintained afterwards
      new Round(cur, pins(pairCountsOf(cur)))
    }(r => Seq(r.cur, r.pairCounts)) { (pins, round, rank) =>
      val Row(l: String, r: String, c: Long) = round.best.get
      val cur = round.cur
      merges += ((rank.toLong, l, r, l + r, c))
      // left-to-right non-overlapping whole-symbol replacement ≡ greedy BPE
      val lr = l + " " + r
      val pat = mergePattern(l, r)
      val repl = Matcher.quoteReplacement(l + r)
      // delta = post-merge pairs − pre-merge pairs of the words that
      // contain the winning pair; everything else is untouched, so the
      // round's shuffle carries affected words only, never the corpus.
      // contains() is an exact prefilter for the anchored match (any
      // boundary match contains the raw "l r" substring), so the padded
      // test runs only on candidate rows. The boundary test itself is a
      // PADDED CONTAINS, not the anchored rlike: mergePattern
      // matches sym exactly when " "+sym+" " contains " "+lr+" " (the
      // lookarounds assert space-or-edge on both sides, which padding
      // turns into literal spaces) — same rows, but a codegen'd memcmp
      // instead of a regex, and CRUCIALLY source-stable: Spark inlines a
      // foldable rlike PATTERN into the generated source, so the old
      // form recompiled this stage every round (12 janino compilations
      // per run, measured via TimeQuery's compiles column), while string `contains`
      // needles ride the reference array and compile once (r16, the
      // PQ kernel's codebook lesson applied to the round loop).
      val affected = cur.filter(col("sym").contains(lr) &&
        concat(lit(" "), col("sym"), lit(" ")).contains(" " + lr + " "))
      // ONE explode emits retractions (−freq over the old pairs) and
      // additions (+freq over the new pairs) together, and its
      // aggregation is FOLDED into the carried-table groupBy below —
      // the former two pairCountsOf branches + their own aggregation
      // cost 3 extra chained exchanges per round at any SF (r15 opt
      // round; the per-round floor is stage latency, guide §1.2)
      def pairStructs(a: Column, f: Column): Column =
        when(size(a) >= 2, transform(
          sequence(lit(0), size(a) - 2),
          i => struct(
            element_at(a, i + 1).as("left"),
            element_at(a, i + 2).as("right"),
            f.as("cnt"))))
          .otherwise(array().cast("array<struct<left:string,right:string,cnt:bigint>>"))
      val delta = affected
        .select(col("freq"), split(col("sym"), " ").as("oa"),
          split(regexp_replace(col("sym"), pat, repl), " ").as("na"))
        .select(explode(concat(
          pairStructs(col("oa"), -col("freq")),
          pairStructs(col("na"), col("freq")))).as("p"))
        .select(col("p.left").as("left"), col("p.right").as("right"), col("p.cnt").as("cnt"))
      // LAZY pins still truncate lineage: round k's plans read round k−1's
      // stored blocks, never a replay of merges 1..k−1. Under AQE (Spark's
      // default) the pair table's pin runs its shuffle-map stage as it is
      // built; with AQE off that stage lands in the next round's argmax
      // collect. The narrow re-encode lands when the next round's pair
      // table reads it.
      val pairCounts = pins(round.pairCounts.unionByName(delta)
        .groupBy("left", "right").agg(sum("cnt").as("cnt"))
        .filter(col("cnt") > 0))
      // conditional re-encode: rows without the raw substring cannot
      // match the anchored regex — skip the regex scan on them
      new Round(pins(cur
        .select(col("freq"),
          when(col("sym").contains(lr), regexp_replace(col("sym"), pat, repl))
            .otherwise(col("sym")).as("sym"))), pairCounts)
    }((round, rank) => rank >= numMerges || round.best.isEmpty)
    import s.implicits._
    merges.result().toDF("rank", "left", "right", "merged", "cnt")
  }
}
