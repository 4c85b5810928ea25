package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

class MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private lazy val media = Multimodal.fixtureFromDocuments(spark, sf).cache()

  // the session is shared across suites: a lingering cache of this
  // documents-derived subtree would be substituted into later suites'
  // registry plans by the CacheManager (it shadowed the mm* file scans
  // from ScanPruningSpec before this hook existed)
  override def afterAll(): Unit = { media.unpersist(); super.afterAll() }

  test("fixture carries binary payloads with typed metadata") {
    assert(media.count() == 500)
    val row = media.filter(col("media_id") === 0).head()
    assert(row.payload.nonEmpty && row.format == "fake/rgb8" && row.width > 0)
  }

  test("NULL payloads (missing media) extract as zero-byte features, not crashes") {
    import spark.implicits._
    // a corpus row whose media failed to fetch/decode — routine at scale;
    // r08 found the kernel NPE'd on it (probed via a null-text corpus)
    val withNull = media.limit(2).as[Multimodal.MediaRow].collect().toSeq :+
      Multimodal.MediaRow(999999L, null, "fake/rgb8", 0, 0)
    val out = Multimodal.extractFeatures(withNull.toDS()).collect()
      .map(f => f.media_id -> f).toMap
    assert(out(999999L).n_bytes == 0L)
    assert(out(999999L).feature.toSeq == Seq.fill(Multimodal.FeatureDim)(0f))
    assert(out.size == 3 && out.values.forall(_.feature.length == Multimodal.FeatureDim))
  }

  test("feature extraction is deterministic with fixed dimension") {
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.length == 500)
    f1.zip(f2).foreach { case (a, b) =>
      assert(a.feature.toSeq == b.feature.toSeq)
      assert(a.feature.length == Multimodal.FeatureDim)
    }
    // ASCII corpus: payload bytes == n_chars
    val chars = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    f1.foreach(f => assert(f.n_bytes == chars(f.media_id)))
  }

  test("frame sampling yields the expected frame count") {
    val frames = Multimodal.sampleFrames(media.toDF(), frameSize = 32, stride = 16, maxFrames = 4)
    val counts = frames.groupBy("media_id").agg(count(lit(1)).as("n")).collect()
    counts.foreach(r => assert(r.getAs[Long]("n") >= 1 && r.getAs[Long]("n") <= 4))
  }

  test("registry queries mm1/mm2 match the kernel and the frame-count formula") {
    val mm1 = Multimodal.mediaFeaturesQuery(spark, sf).collect()
    assert(mm1.length == 500)
    // f0 column agrees with a direct kernel evaluation on the payload bytes
    val byId = media.collect().map(r => r.media_id -> r.payload).toMap
    mm1.take(20).foreach { r =>
      // Spark round = HALF_UP over the shortest decimal repr — mirror it
      val expect = BigDecimal(
        Multimodal.decodeHistogram(byId(r.getAs[Long]("media_id")))(0).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("f0") == expect)
    }
    val lens = byId.view.mapValues(_.length).toMap
    val byMedia = Multimodal.frameSampleQuery(spark, sf).collect()
      .groupBy(_.getAs[Long]("media_id"))
    // only payloads that can fill one 64-byte frame appear at all
    assert(byMedia.keySet == lens.filter(_._2 >= 64).keys.toSet)
    byMedia.foreach { case (id, rows) =>
      val expect = math.min((lens(id) - 64) / 32 + 1, 8)
      assert(rows.map(_.getAs[Long]("frame_no")).sorted.toSeq == (0L until expect))
    }
  }

  test("resize truncates payloads") {
    val resized = Multimodal.resize(media.toDF(), targetBytes = 40)
    assert(resized.filter(octet_length(col("payload")) > 40).count() == 0)
  }

  test("metadata-only queries never read the payload column from the stored table") {
    // the core multimodal scale claim, plan-asserted: with media persisted
    // columnar, a metadata aggregate's parquet scan must not include the
    // (dominant) binary payload in its ReadSchema — at 100 TB this is the
    // difference between scanning kilobytes of metadata and the whole lake
    Scratch.withTree("graft-media") { tree =>
      val dir = new java.io.File(tree, "t").getPath
      media.write.parquet(dir)
      val stats = spark.read.parquet(dir)
        .filter(col("width") >= 32)
        .groupBy("format")
        .agg(count(lit(1)).as("n"), sum(col("width").cast("long")).as("total_width"))
      val p = stats.queryExecution.executedPlan.toString
      val readSchema = "ReadSchema: [^,]+".r.findFirstIn(p).getOrElse("")
      assert(readSchema.nonEmpty && !readSchema.contains("payload"),
        s"payload column was not pruned from the scan: $readSchema")
      // the width predicate reaches the scan as a pushed filter too
      assert(p.contains("PushedFilters: [IsNotNull(width), GreaterThanOrEqual(width,32)]")
        || p.contains("GreaterThanOrEqual(width,32)"),
        s"width filter not pushed:\n${p.take(600)}")
      assert(stats.count() > 0)
    }
  }

  test("mm4: injected exact duplicates rank at the top with cosine 1; output deterministic") {
    val base = Multimodal.extractFeatures(media).toDF().select("media_id", "feature")
    // duplicate every item under a shifted id — each (id, id + 10^9) pair
    // has IDENTICAL features, so the top pairs must be dominated by cos=1
    val doubled = base.unionByName(
      base.select((col("media_id") + 1000000000L).as("media_id"), col("feature")))
    val top = Multimodal.mediaTopPairs(doubled).collect()
    assert(top.length == Multimodal.TopPairs)
    assert(top.forall(r => r.getLong(0) < r.getLong(1)))
    assert(top.forall(r => r.getDouble(2) == 1.0),
      "exact duplicates exist for every item, so every top pair must be cos=1")
    // and the registry query itself is stable across runs
    val a = Multimodal.mediaNearDupQuery(spark, sf).collect().map(_.toString).toSeq
    val b = Multimodal.mediaNearDupQuery(spark, sf).collect().map(_.toString).toSeq
    assert(a == b && a.nonEmpty)
  }
}
