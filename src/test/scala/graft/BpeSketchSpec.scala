package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bpe, TextAnalysis}

/** Ground truth for the distributed BPE merge learner (bp1) — compared
  * against an independent sequential reference implementation — and the
  * sketch-prefiltered heavy-hitter query (hh1) against its direct exact
  * form. */
class BpeSketchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  // ---- sequential reference BPE (greedy left-to-right merge application) ----

  private def applyMerge(syms: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** The operator contract on text: initial symbols are CODE POINTS (an
    * emoji is one symbol, not two surrogates) and the argmax tie-break is
    * UTF-8-binary (code-point) order — the order Spark's UTF8String and
    * DuckDB's VARCHAR comparisons both use. The reference encodes that
    * contract independently of the implementations under test. */
  private val cpOrder: Ordering[String] = (x: String, y: String) => {
    val n = math.min(x.length, y.length)
    var i = 0
    var cmp = 0
    while (cmp == 0 && i < n) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(i)
      cmp = Integer.compare(cx, cy)
      i += Character.charCount(cx)
    }
    if (cmp != 0) cmp else Integer.compare(x.length, y.length)
  }

  private def codePoints(w: String): Vector[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toVector

  private def refBpe(words: Seq[(String, Long)], n: Int): Seq[(Long, String, String, Long)] = {
    var corpus = words.map { case (w, f) =>
      (codePoints(w) :+ Bpe.EndOfWord, f)
    }
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var rank = 1L
    var done = false
    while (rank <= n && !done) {
      val counts = collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- corpus; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }(
          Ordering.Tuple3(Ordering.Long, cpOrder, cpOrder))
        merges += ((rank, l, r, c))
        corpus = corpus.map { case (syms, f) => (applyMerge(syms, l, r), f) }
        rank += 1
      }
    }
    merges.result()
  }

  /** Run the learner through the public dispatcher. `driverVocabLimit = 0`
    * forces the distributed delta-maintained path; the default takes the
    * driver-side indexed path on these vocab-scale fixtures — every
    * equality test below runs BOTH against the same sequential reference. */
  private def learned(
      words: Seq[(String, Long)], n: Int,
      driverVocabLimit: Int = Bpe.DriverVocabLimit): Seq[(Long, String, String, Long)] = {
    import spark.implicits._
    Bpe.learnMergesFrom(words.toDF("w", "freq"), n, driverVocabLimit)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))
      .toSeq
  }

  private def learnedBoth(words: Seq[(String, Long)], n: Int): Seq[Seq[(Long, String, String, Long)]] =
    Seq(learned(words, n), learned(words, n, driverVocabLimit = 0))

  test("bp1 matches the sequential reference on the classic Sennrich corpus (both paths)") {
    val words = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    for (got <- learnedBoth(words, 8)) assert(got == refBpe(words, 8))
  }

  test("distributed bp1 holds no more pins after 12 merges than after 3") {
    import spark.implicits._
    val words = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L).toDF("w", "freq")
    // at most the last two encodings and the last two pair tables
    def held(n: Int): Int = SparkTestSession.heldPins(Bpe.learnMergesDistributed(words, n))(
      merges => assert(merges.count() == n))
    assert(held(3) <= 4 && held(12) <= 4)
  }

  test("bp1 merge application is greedy left-to-right on runs (aaa under (a,a) -> [aa, a])") {
    val words = Seq("aaa" -> 7L, "aa" -> 2L)
    for (g <- learnedBoth(words, 3)) assert(g == refBpe(words, 3))
    val got = learned(words, 3)
    // merge 1: (a,a) seen twice in "aaa" (×7) and once in "aa" (×2) = 16.
    // Greedy application makes "aaa" [aa, a, </w>] — so round 2 counts
    // (aa,a):7 and (a,</w>):7, and the lexicographic tie-break picks
    // (a,</w>); round 3 merges (aa, a</w>) from the ×7 word only.
    assert(got == Seq(
      (1L, "a", "a", 16L),
      (2L, "a", Bpe.EndOfWord, 7L),
      (3L, "aa", "a" + Bpe.EndOfWord, 7L)))
  }

  test("bp1 stops when every word is a single symbol") {
    val words = Seq("ab" -> 3L)
    // a+b, ab+</w>: two merges exhaust the corpus; asking for 10 yields 2
    for (g <- learnedBoth(words, 10)) assert(g.size == 2)
  }

  test("bp1 incremental pair-count maintenance matches the reference on random corpora (both paths)") {
    // both incremental learners carry the pair table across rounds by
    // retract/add deltas (the driver path additionally through a stale-able
    // inverted index); any drift from a full recount would change an
    // argmax somewhere in a longer merge sequence. Randomized corpora over
    // a tiny alphabet maximize pair collisions, run-merges (aa on aaa) and
    // exhaustion — the delta math's hard cases.
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 8) {
      val words = (1 to 12).map { _ =>
        val len = 1 + rnd.nextInt(6)
        (1 to len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      }.distinct.map(w => w -> (1L + rnd.nextInt(9)))
      val n = 2 + rnd.nextInt(10)
      for (g <- learnedBoth(words, n))
        assert(g == refBpe(words, n), s"trial $trial: $words, n=$n")
    }
  }

  test("bp1 on multi-byte text: emoji are single symbols and the tie-break is code-point order (both paths)") {
    // 🚀 is U+1F680 (two UTF-16 units): a code-unit split would cut it
    // into unpaired surrogates and learn garbage merges. The 
    // private-use word forces the tie-break divergence zone: UTF-16
    // code-unit order ranks 🚀 BEFORE , code-point order AFTER —
    // the reference pins the code-point contract both engines share.
    val words = Seq(
      "🚀🚀" -> 5L, "" -> 5L, // equal pair counts ⇒ tie-break decides
      "café" -> 3L, "東京" -> 2L)
    for (g <- learnedBoth(words, 6)) assert(g == refBpe(words, 6))
    // the first merge must be the  pair under code-point order
    assert(learned(words, 1).head._2 == "")
  }

  test("bp1 is deterministic across runs") {
    val a = Bpe.learnMerges(spark, sf).collect().toSeq
    val b = Bpe.learnMerges(spark, sf).collect().toSeq
    assert(a == b)
    assert(a.size == Bpe.NumMerges)
  }

  test("bp2 encode matches sequentially applying the reference merges word by word") {
    import spark.implicits._
    // reference: learn merges sequentially from the real corpus's word
    // frequencies, then encode each document word by word
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val freqs = docs.flatMap(_._2.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }.toSeq
    val merges = refBpe(freqs.sortBy(_._1), Bpe.NumMerges).map { case (_, l, r, _) => (l, r) }
    val want = docs.map { case (id, text) =>
      val syms = text.split(" ").filter(_.nonEmpty).toVector.flatMap { w =>
        w.map(_.toString).toVector :+ Bpe.EndOfWord
      }
      // word boundaries: </w> never merges rightward unless learned as a
      // pair, and applyMerge over the concatenated stream is equivalent to
      // per-word application because every learned pair stays within a word
      id -> merges.foldLeft(syms)((acc, p) => applyMerge(acc, p._1, p._2)).size.toLong
    }.toMap
    val got = Bpe.encodeCorpus(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("bp2 codegen kernel is bit-identical to the chained-regex formulation") {
    val kernel = Bpe.encodeCorpus(spark, sf).collect().map(_.toString).toSeq
    val regex = Bpe.encodeCorpusBuiltins(spark, sf).collect().map(_.toString).toSeq
    assert(kernel == regex)
    assert(kernel.nonEmpty)
  }

  test("hh1 sketch-prefiltered heavy hitters equals the direct exact form") {
    val got = TextAnalysis.heavyHitterBigrams(spark, sf).collect().toSeq
    // direct form: exact group-by-count, relative threshold, no sketch
    val docs = Tables(spark, sf, "documents")
    val bi = docs
      .select(split(col("text"), " ").as("a"))
      .filter(size(col("a")) >= 2)
      .select(explode(transform(
        sequence(lit(0), size(col("a")) - 2),
        i => concat(element_at(col("a"), i + 1), lit(" "), element_at(col("a"), i + 2))))
        .as("bigram"))
    val total = bi.count()
    val threshold = math.max(1L, total / 800)
    val want = bi.groupBy("bigram").agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .orderBy("bigram")
      .collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }
}
