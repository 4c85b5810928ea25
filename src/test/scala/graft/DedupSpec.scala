package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("exact dedup keeps one row per distinct text") {
    val out = Dedup.exact(spark, sf)
    assert(out.count() == 500) // corpus has no exact duplicates
    assert(out.agg(sum("n_copies")).first().getLong(0) == 500)
  }

  test("fingerprint dedup agrees with exact dedup on a clean corpus") {
    assert(Dedup.fingerprint(spark, sf).count() == Dedup.exact(spark, sf).count())
  }

  test("jaccard pairs respect the threshold and ordering contract") {
    val out = Dedup.jaccardPairs(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      assert(r.getAs[Double]("jaccard") >= 0.85)
    }
  }

  /** Brute-force all-pairs Jaccard ≥ 0.85 over the full 500-doc corpus —
    * the ground truth the LSH variant must be a subset of. */
  private lazy val bruteForcePairs: Set[(Long, Long)] = {
    val toks = Tables(spark, sf, "documents")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      .cache()
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = toks.as("a")
      .join(toks.as("b"), col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    val sa = sizes.select(col("doc_id").as("id_a"), col("n").as("na"))
    val sb = sizes.select(col("doc_id").as("id_b"), col("n").as("nb"))
    val pairs = inter.join(sa, "id_a").join(sb, "id_b")
      .filter(col("c") / (col("na") + col("nb") - col("c")) >= 0.85)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // unpersist: the session is shared across suites, and a lingering cache
    // of a documents-derived subtree would be silently substituted into
    // later suites' registry plans by the CacheManager
    toks.unpersist()
    pairs
  }

  test("signatures omit NULL-text docs and are non-NULL for real ones (batch and stream agree)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, null), (3L, "a b c"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs).orderBy("doc_id").collect()
    // NULL-text doc 2 is omitted (historical explode+groupBy behavior,
    // now enforced by an explicit filter); identical texts sign identically
    assert(sigs.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(sigs.forall(r => (1 until r.length).forall(!r.isNullAt(_))))
    assert(sigs(0).toSeq.tail == sigs(1).toSeq.tail)
  }

  test("minhash kernel ≡ built-ins composable twin (Kirsch–Mitzenmacher family)") {
    val docs = Tables(spark, sf, "documents").limit(50)
    val kernel = Dedup.minhashSignatures(docs).orderBy("doc_id").collect()
    val twin = docs.filter(col("text").isNotNull)
      .select(col("doc_id") +: Dedup.signatureColumnsComposable(col("text")): _*)
      .orderBy("doc_id").collect()
    assert(kernel.length == twin.length && kernel.nonEmpty)
    kernel.zip(twin).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
  }

  test("minhash-LSH pairs are a subset of brute-force truth, with decent recall") {
    val lsh = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val truth = bruteForcePairs
    assert(lsh.nonEmpty)
    assert(lsh.subsetOf(truth), s"${(lsh -- truth).take(5)} not in truth")
    val recall = lsh.size.toDouble / truth.size
    info(f"minhash-LSH recall vs brute force: $recall%.3f (${lsh.size}/${truth.size})")
    // This corpus is adversarial for LSH: a 31-word vocabulary makes ~15% of
    // ALL pairs ≥0.85 Jaccard, so the true near-dup "clusters" are exactly
    // the giant buckets the skew cap drops. Precision stays 1.0 (subset
    // assert above); recall is capped by design here. Real corpora have
    // discriminative shingles and recall ≈ 1-(1-J^r)^b ≈ 0.95.
    assert(recall > 0.05)
  }

  test("simhash pairs verify hamming <= 3 and are deterministic") {
    val out = Dedup.simhashPairs(spark, sf)
    val a = out.collect().map(_.toString).sorted.toSeq
    val b = out.collect().map(_.toString).sorted.toSeq
    assert(a == b)
    out.collect().foreach { r =>
      assert(r.getAs[Long]("hamming") <= 3)
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
    }
  }

  test("simhash star recovery keeps over-cap duplicate clusters (the 1000x probe find)") {
    import spark.implicits._
    // One exact-duplicate cluster larger than BucketCap: every band bucket
    // it fills is over cap, so WITHOUT the full-signature star the cluster
    // contributes zero pairs — exactly how the 1000x probe read dd5 at 0
    // output rows. With it, the cluster degrades to its (n-1)-pair
    // min-canon star at hamming 0.
    val n = Dedup.BucketCap + 51
    Scratch.withTree("graft-dd5-star") { dir =>
      val docs = (1L to n.toLong).map(i => (i, "alpha beta gamma delta epsilon zeta")) :+
        (9001L, "unrelated vocabulary entirely disjoint from the cluster words")
      docs.toDF("doc_id", "text").write
        .parquet(new java.io.File(dir, "documents.parquet").getPath)
      val out = Dedup.simhashPairs(spark, dir.getPath).collect()
      val clusterPairs = out.filter(_.getAs[Long]("id_b") <= n)
      assert(clusterPairs.length == n - 1, "expected exactly the canon star")
      clusterPairs.foreach { r =>
        assert(r.getAs[Long]("id_a") == 1L)
        assert(r.getAs[Long]("hamming") == 0L)
      }
    }
  }

  test("winnowing fingerprints: identical docs share all, guarantee property holds") {
    val fps = Dedup.winnowFingerprints(spark, sf).cache()
    val perDoc = fps.groupBy("doc_id").agg(count(lit(1)).as("n")).collect()
    assert(perDoc.length == 500)
    // winnow density ~2/(w+1): far fewer fingerprints than characters
    perDoc.foreach(r => assert(r.getAs[Long]("n") > 0 && r.getAs[Long]("n") < 600))
    // determinism across runs
    val a = fps.collect().map(_.toString).sorted.toSeq
    val b = Dedup.winnowFingerprints(spark, sf).collect().map(_.toString).sorted.toSeq
    assert(a == b)
    fps.unpersist()
  }

  test("winnowing codegen kernel is bit-identical to the composable built-ins oracle") {
    val kernel = Dedup.winnowFingerprints(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val oracle = Dedup.winnowFingerprintsComposable(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(kernel == oracle)
  }

  test("winnowing guarantee: docs sharing a substring of length >= k+w-1 share a fingerprint") {
    import org.apache.spark.unsafe.types.UTF8String
    def fps(s: String): Set[Long] =
      graft.functions.WinnowKernel.winnow(UTF8String.fromString(s), 5, 4)
        .toLongArray().toSet
    val shared = "the quick brown fox" // 19 chars >= k+w-1 = 8
    val x = fps("AAAAAAAA " + shared + " BBBBBBBB")
    val y = fps("CCCCCCCC " + shared + " DDDDDDDD")
    assert((x & y).nonEmpty)
    // non-ASCII path agrees with itself and is deterministic
    val uni = "áéíóú " + shared + " ñññ"
    assert(fps(uni) == fps(uni) && fps(uni).nonEmpty)
    // too-short text yields no fingerprints
    assert(fps("short").isEmpty)
  }

  test("dup clusters equal union-find ground truth over the LSH pair graph") {
    val pairs = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    // test-side union-find ground truth
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(x => x -> find(x)).toMap
    val out = Dedup.dupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_canonical"))).toMap
    assert(out.size == 500) // every document appears, singletons included
    truth.foreach { case (node, root) =>
      assert(out(node)._1 == root, s"node $node: got ${out(node)._1}, want $root")
    }
    // docs with no near-dup edge are their own canonical cluster
    out.foreach { case (doc, (cluster, canon)) =>
      if (!truth.contains(doc)) assert(cluster == doc)
      assert(canon == (cluster == doc))
    }
  }

  test("connected components: a 60-deep chain converges to one label") {
    import spark.implicits._
    // a 0-1-2-…-60 chain has diameter 60: plain per-hop propagation would
    // need 60 hops, the hash-to-min steps cover it by doubling
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(chain).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(labels.size == 61)
    labels.foreach { case (n, l) => assert(l == 0L, s"node $n labelled $l") }
  }

  test("connected components holds no more pins on a 60-chain than on a 10-chain") {
    import spark.implicits._
    // a call leaves persisted at most the pinned symmetric edges and the
    // final labels, however many rounds the chain takes
    def held(n: Long): Int = SparkTestSession.heldPins(
      Dedup.connectedComponents((0L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")))(
      labels => assert(labels.count() == n + 1))
    assert(held(10) <= 2 && held(60) <= 2)
  }

  test("hash-to-min propagation converges a 300-deep chain") {
    import spark.implicits._
    // r15 focused test for the O(log d) contract: plain per-hop
    // propagation needs 300 hops here, the push/pull doubling a handful
    // of batches. Min id placed at the FAR end (node 300 is
    // relabeled 0 via reversal) so information must actually traverse.
    val chain = (0L until 300L).map(i => (300L - i, 300L - i - 1)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(chain).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(labels.size == 301)
    labels.foreach { case (n, l) => assert(l == 0L, s"node $n labelled $l") }
  }

  test("hash-to-min propagation agrees with union-find on random multi-component graphs") {
    import spark.implicits._
    // r15 focused test: the push (h(u) → old pointer target) and pull
    // (h(h(u))) legs pinned against union-find ground truth across seeds
    // (seed, pairs, nodes)
    for ((seed, nPairs, nNodes) <- Seq((3, 150, 120), (11, 150, 120), (7, 120, 80))) {
      val rng = new scala.util.Random(seed)
      val pairs = Seq.fill(nPairs)((rng.nextInt(nNodes).toLong, rng.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      val got = Dedup.connectedComponents(pairs.toDF("id_a", "id_b"))
        .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = parent.keys.map(x => x -> find(x)).toMap
      assert(got.keySet == truth.keySet, s"seed $seed: node sets differ")
      truth.foreach { case (n, r) =>
        assert(got(n) == r, s"seed $seed node $n: got ${got(n)}, want $r")
      }
    }
  }

  test("dd9's edit distance counts CODE-POINT edits on multi-byte text (the operator contract)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.levenshtein
    // the DuckDB oracle twin counts BYTE edits and cannot check this
    // (sound on the pure-ASCII fixture only — see editDistancePairs
    // scaladoc); this pins the engine-side standard-definition semantics
    // so a regression to byte counting would fail CI even where the
    // oracle is blind
    val cases = Seq(
      ("café", "cafe", 1), // é is 2 UTF-8 bytes: byte-based would say 2
      ("a👍b", "ab", 1), // 4-byte emoji: byte-based says 4
      ("漢字", "漢", 1), // 3-byte CJK
      ("noël", "noel", 1))
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(levenshtein($"a", $"b")).collect().map(_.getInt(0)).toSeq
    assert(got == cases.map(_._3), s"levenshtein drifted from code-point edits: $got")
  }

  test("embedding near-dup pairs are within [-1, 1] and above threshold") {
    val out = Dedup.embeddingNearDup(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val c = r.getAs[Double]("cos")
      assert(c >= 0.4 && c <= 1.0)
    }
  }
}
