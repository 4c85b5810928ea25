package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ckpt.PinOps
import graft.Tables

/** Deterministic sampling operators for corpus construction.
  *
  * A 100 TB training-data build cannot use RNG-based sampling
  * (`df.sample`): the sample must be reproducible across reruns, engines,
  * partition counts, and speculative task retries, or every downstream
  * artifact (dedup decisions, mixture weights, eval splits) drifts.
  * Both operators here decide membership from a content-independent hash
  * of the row's key — the same trick as [[Pipeline.hashSplit]] — so the
  * sample is a pure function of the data.
  *
  * Scale shape: [[stratifiedSample]] is a narrow map+filter (no shuffle at
  * all — the decision is per-row); [[fixedSizePerStratum]] is one hash
  * shuffle on the stratum key with a per-partition top-k under the window
  * (Spark runs rank-filter windows with a partial sort; k rows per stratum
  * survive). Neither collects anything to the driver.
  */
object Sampling {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  private def keyHash: Column = md5(col("doc_id").cast("string").cast("binary"))

  /** The deterministic id-modulus sample behind every bounded brute-force
    * operator: keep the rows of `df` whose `id` is a multiple of
    * max(1, n / target), n = `df`'s row count, so about `target` rows
    * survive at any corpus size. One count job; each oracle derives the
    * same modulus as `greatest(1, count(*) // target)`. */
  private[graft] def idSample(df: DataFrame, id: String, target: Long): DataFrame = {
    val m = math.max(1L, df.count() / target)
    df.filter(col(id) % m === 0)
  }

  /** Per-stratum acceptance thresholds on the first md5 byte, hex-string
    * compared (like [[Pipeline.mixCorpus]]'s rates): en keeps all, de 1/2,
    * es 1/4, fr 1/8, anything else ~10%. */
  val Rates: Seq[(String, String)] =
    Seq("en" -> "ff", "de" -> "80", "es" -> "40", "fr" -> "20")

  /** The sampling decision as a reusable transform over any relation with
    * (doc_id, lang): a pure stateless narrow map, so the SAME fragment runs
    * under Structured Streaming with no watermark or state (ingest-time
    * sampling — StreamingSpec proves stream ≡ batch). */
  def stratifiedKeep(docs: DataFrame): DataFrame = {
    val keep = Rates.foldRight(keyHash < "1a") { case ((lang, thr), els) =>
      when(col("lang") === lang, if (thr == "ff") lit(true) else keyHash < thr).otherwise(els)
    }
    docs.filter(keep)
  }

  /** Rate-based stratified sample: keep a deterministic, per-language
    * fraction of documents. Materializes the sampled rows (unlike
    * [[Pipeline.mixCorpus]], which only counts them) so downstream stages
    * can consume the sample as a relation. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame =
    stratifiedKeep(t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")))
      .orderBy("doc_id")

  /** Temperature resampling (sm3): reshape the language mixture toward
    * √p (temperature α = 0.5, the multilingual-LM data-mixing default) —
    * upsample low-resource languages, damp the head — with EXACT
    * deterministic target counts rather than RNG draws.
    *
    * Targets: m_l = round(N·q_l) with q_l = √n_l / Σ√n. Each √n_l is
    * rounded into DECIMAL(20,12) BEFORE the Σ, so the normalizer is
    * summation-order independent (sqrt itself is IEEE-correctly-rounded,
    * unlike pow — hence √p specifically); q then evaluates in double with
    * the identical operation order on any engine. Each document is kept
    * `m_l div n_l` times, plus once more for the `m_l mod n_l` documents
    * with the smallest key-hash — the output hits every m_l exactly,
    * per-document multiplicity within a language differs by at most 1,
    * and the whole resample is a pure function of the corpus (rerun-,
    * partitioning- and retry-stable, like everything in this module).
    * One stratum-keyed window shuffle; language stats travel broadcast. */
  def temperatureResample(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("lang"))
    // pinned: consumed twice (the normalizer aggregate and the target
    // join) — unpinned, each consumer re-planned the full corpus scan +
    // language count (r16 plan audit: documents scanned 3×, now 2× — the
    // remaining pair is the inherent stats-then-data two-pass). The pinned
    // relation is one row per language.
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("nl")).pinLazy()
    val tot = counts.agg(
      sum("nl").as("n"),
      sum(sqrt(col("nl").cast("double")).cast("decimal(20,12)")).as("z"))
    val targets = counts.crossJoin(broadcast(tot))
      .withColumn("ql",
        sqrt(col("nl").cast("double")).cast("decimal(20,12)").cast("double") /
          col("z").cast("double"))
      .withColumn("ml", round(col("n").cast("double") * col("ql"), 0).cast("long"))
      .select("lang", "nl", "ml")
    docs
      .withColumn("rk",
        row_number().over(Window.partitionBy("lang").orderBy(keyHash, col("doc_id"))).cast("long"))
      .join(broadcast(targets), "lang")
      .withColumn("n_copies",
        (expr("ml div nl") + when(col("rk") <= col("ml") % col("nl"), 1L).otherwise(0L)).cast("long"))
      .filter(col("n_copies") > 0)
      .select("doc_id", "lang", "n_copies")
      .orderBy("doc_id")
  }

  /** Documents kept per language by [[fixedSizePerStratum]] (sm2). */
  val StratumSize = 25

  /** Fixed-size uniform sample per stratum: the [[StratumSize]] documents
    * with the smallest key-hash in each language — a deterministic stand-in for
    * per-class reservoir sampling (hash order is uniform and content
    * independent, so this IS a uniform k-subset, just reproducible).
    * doc_id tie-break keeps the rank total even if hashes ever collide. */
  def fixedSizePerStratum(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("lang"), keyHash.as("h"))
      .withColumn("rk",
        row_number().over(Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))).cast("long"))
      .filter(col("rk") <= StratumSize)
      .select("lang", "rk", "doc_id")
      .orderBy("lang", "rk")
}
