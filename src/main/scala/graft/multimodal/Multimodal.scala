package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with a typed metadata struct, and per-item processing
  * (decode, feature-extract, frame-sample) runs as partition-local batch
  * transforms.
  *
  * The actual media CODECS (jpeg/png/flac…) are not available in this
  * environment, so the fixture payloads are raw 8-bit samples
  * (`fake/rgb8`) and "decode" is the identity — loudly stubbed. The
  * feature kernel itself is REAL, though: a 16-bin byte-intensity
  * histogram ([[decodeHistogram]]), the standard post-decode image feature,
  * computed over the raw samples. Being pure byte arithmetic it is also
  * ANSI-SQL-expressible, which buys mm1 a full cross-engine oracle — the
  * kernel, the mapPartitions batch shape, the `Dataset[T]` encoders, and
  * the pushdown-friendly metadata columns are all production plumbing
  * under real verification; only the codec call is a swap-in point.
  *
  * At 100 TB: binaries stay columnar in parquet, metadata predicates
  * (format/width filters) prune row groups without touching payload bytes,
  * and the decode stage is a narrow map — no shuffle — so it scales with
  * executor count.
  */
object Multimodal {

  /** One media item: payload + self-describing metadata. */
  final case class MediaRow(
      media_id: Long,
      payload: Array[Byte],
      format: String,
      width: Int,
      height: Int)

  final case class MediaFeatures(
      media_id: Long,
      n_bytes: Long,
      feature: Array[Float])

  val FeatureDim = 16

  /** Feature kernel: normalized 16-bin byte-intensity histogram — bin =
    * high nibble (`value >> 4`), i.e. 16 equal intensity buckets over the
    * 8-bit sample range. For the raw `fake/rgb8` fixture payloads the
    * bytes ARE the samples, so this is the real post-decode feature an
    * image pipeline computes; in production a codec call decodes the
    * payload to samples first. Pure per-byte arithmetic ⇒ deterministic,
    * engine-portable, and oracle-checked (mm1). */
  def decodeHistogram(payload: Array[Byte]): Array[Float] = {
    val acc = new Array[Long](FeatureDim)
    var i = 0
    while (i < payload.length) {
      acc((payload(i) & 0xff) >>> 4) += 1
      i += 1
    }
    val n = math.max(payload.length, 1).toDouble
    acc.map(c => (c / n).toFloat)
  }

  /** Decode/feature-extract stage: partition-local batch transform.
    * NULL payloads (missing or undecodable media — routine in a real
    * corpus) are treated as zero-byte payloads: n_bytes 0, all-zero
    * histogram — the crash-free convention a decode stage needs; a
    * production pipeline would additionally dead-letter them. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val p = if (r.payload == null) Array.emptyByteArray else r.payload
        MediaFeatures(r.media_id, p.length.toLong, decodeHistogram(p))
      }
    }
  }

  /** Frame sampling: slice `frameSize`-byte frames every `stride` bytes
    * (stand-in for video frame extraction), as a codegen'd expression —
    * no UDF. */
  def sampleFrames(media: DataFrame, frameSize: Int, stride: Int, maxFrames: Int): DataFrame = {
    val lastIdx = least(
      floor((octet_length(col("payload")) - frameSize).cast("double") / stride).cast("int"),
      lit(maxFrames - 1))
    // payloads shorter than one frame produce no rows (lastIdx < 0), rather
    // than a phantom frame 0 the payload cannot fill
    media.filter(octet_length(col("payload")) >= frameSize)
      .select(col("media_id"), sequence(lit(0), lastIdx).as("frame_idx"))
      .select(col("media_id"), explode(col("frame_idx")).as("frame_no"))
  }

  /** "Resize" stub: truncate payload to `targetBytes` via substring on
    * binary (decode+scale in production). */
  def resize(media: DataFrame, targetBytes: Int): DataFrame =
    media.withColumn("payload", expr(s"substring(payload, 1, $targetBytes)"))

  /** Registry query (mm5): the resize stage's byte accounting — original
    * vs resized payload sizes over the media fixture. The binary
    * truncation itself is engine code, but its LENGTH contract
    * (`min(len, target)`) is pure arithmetic, so this stage gets a full
    * DuckDB oracle like mm2's frame-count formula. A narrow map — payload
    * bytes never shuffle; the output is the audit a real resize job
    * publishes (bytes in/bytes out per item). */
  def resizeAuditQuery(spark: SparkSession, dir: String, targetBytes: Int = 256): DataFrame =
    resize(fixtureFromDocuments(spark, dir).toDF()
      .withColumn("orig_bytes", octet_length(col("payload")).cast("long")), targetBytes)
      .select(col("media_id"), col("orig_bytes"),
        octet_length(col("payload")).cast("long").as("resized_bytes"))
      .orderBy("media_id")

  /** Registry query (mm1): decode/feature-extract over the documents-backed
    * media fixture, surfacing three histogram components as flat scalar
    * columns. The kernel runs in the JVM (mapPartitions), but its
    * arithmetic is per-byte counting — the oracle recomputes the same
    * histogram in SQL from the payload's hex expansion (high nibble = the
    * odd hex digit) and must hash-match, including the float32 cast the
    * Array[Float] feature imposes. */
  def mediaFeaturesQuery(spark: SparkSession, dir: String): DataFrame = {
    extractFeatures(fixtureFromDocuments(spark, dir))
      .select(
        col("media_id"),
        col("n_bytes"),
        round(element_at(col("feature"), 1).cast("double"), 6).as("f0"),
        round(element_at(col("feature"), 8).cast("double"), 6).as("f7"),
        round(element_at(col("feature"), 16).cast("double"), 6).as("f15"))
      .orderBy("media_id")
  }

  /** Registry query (mm2): video-style frame sampling over the media
    * fixture — 64-byte frames every 32 bytes, at most 8 per item. Pure
    * relational arithmetic over payload lengths, so this one DOES get a
    * DuckDB oracle (octet_length + generate_series), giving the multimodal
    * family a hash-checked correctness row. */
  def frameSampleQuery(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(fixtureFromDocuments(spark, dir).toDF(), 64, 32, 8)
      .select(col("media_id"), col("frame_no").cast("long").as("frame_no"))
      .orderBy("media_id", "frame_no")

  /** Registry query (mm3): exact media dedup by payload digest — the first
    * pass every multimodal ingest runs (identical images/audio re-crawled
    * under different ids). The aggregation hashes payload bytes INSIDE the
    * scan's partial aggregate, so only the 32-hex digest + id + length ever
    * reach the shuffle: at 100 TB the multi-KB payload column never moves,
    * which is the entire point of fingerprint dedup on binary columns.
    * Spark's md5 runs on the binary payload; the oracle hashes the text the
    * fixture encodes — identical UTF-8 bytes, identical digest. */
  def binaryDedupQuery(spark: SparkSession, dir: String): DataFrame =
    fixtureFromDocuments(spark, dir).toDF()
      .groupBy(md5(col("payload")).as("fp"))
      .agg(
        min("media_id").as("keep_id"),
        count(lit(1)).as("n_copies"),
        sum(octet_length(col("payload")).cast("long")).as("total_bytes"))
      .select("fp", "keep_id", "n_copies", "total_bytes")
      .orderBy("keep_id")

  /** Top-k most-similar media pairs by feature cosine — the media twin of
    * embedding near-dup (dd6), over any (media_id, feature) relation.
    * Ranked top-k rather than thresholded: stub byte-histogram features
    * make similar text cluster tightly, and a fixed k keeps the output
    * bounded and deterministic (rounded cosine, id tie-breaks) regardless
    * of how tight. TakeOrdered top-k — no global sort materializes. */
  def mediaTopPairs(features: DataFrame, k: Int = 50): DataFrame = {
    import graft.functions.VectorFunctions._
    val a = features.select(col("media_id").as("id_a"), col("feature").as("fa"),
      normFast(col("feature")).as("na"))
    val b = features.select(col("media_id").as("id_b"), col("feature").as("fb"),
      normFast(col("feature")).as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dotFast(col("fa"), col("fb")) / (col("na") * col("nb")), 6).as("cos"))
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(k)
  }

  /** Registry query (mm4): most-similar media pairs over the stub features
    * of a deterministic ~500-item sample (the dd6/dd3 sampling rule —
    * brute force stays the bounded oracle; the LSH/IVF paths in
    * `graft.operators.Similarity` are the unbounded-n route for real
    * embeddings). Oracle-checked since the kernel became the real
    * histogram: each float32 bin is exactly recomputable in SQL (mm1's hex
    * recipe, all 16 bins), widening to double is exact, and the
    * double-accumulated cosine matches `list_cosine_similarity` at the
    * 6dp rounding (the dd6/ss1-proven parity). Empty payloads are
    * excluded on both sides — their zero vector has no defined cosine
    * (0/0) — with the sample modulus still computed over the full corpus
    * so the sampling rule is unchanged. */
  def mediaNearDupQuery(spark: SparkSession, dir: String): DataFrame = {
    val feats = extractFeatures(fixtureFromDocuments(spark, dir)).toDF()
    val mod = math.max(1L, feats.count() / 500)
    mediaTopPairs(
      feats.filter(col("media_id") % mod === 0 && col("n_bytes") > 0)
        .select(col("media_id"), col("feature")))
  }

  /** Deterministic fixture: media rows synthesized from the documents
    * table's text bytes (UTF-8), so multimodal plumbing is testable against
    * the standard corpus. Missing text maps to an EMPTY payload (explicit
    * null contract, mirrored in every mm oracle): the media pipeline then
    * sees a uniform non-null binary column, and zero-byte items flow
    * through decode/resize/dedup with defined all-zero/0-byte results
    * instead of engine-specific NULL propagation. */
  def fixtureFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables(spark, dir, "documents")
      .select(
        col("doc_id").as("media_id"),
        encode(coalesce(col("text"), lit("")), "UTF-8").as("payload"),
        lit("fake/rgb8").as("format"),
        // a doc with missing text has missing metadata too (r09 null-tier
        // find: NULL n_chars made this NULL → non-nullable Int encoder
        // assert) — missing width defaults to 1, matching the empty payload
        coalesce(col("n_chars") % 64 + 1, lit(1)).cast("int").as("width"),
        lit(1).cast("int").as("height"))
      .as[MediaRow]
  }
}
