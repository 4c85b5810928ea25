package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  /** SHA-256 of sorted `Row.toString`s joined by newlines — an exact pin on
    * a result whose rows the off-CI DuckDB oracle tiers otherwise check. */
  private def digest(rows: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.sorted.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("codegen FloatVectorDot is bit-identical to the built-in HOF composition") {
    val e = Tables(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val pairs = e.crossJoin(q)
    val diffs = pairs.select(
      (VectorFunctions.dotFast(col("embedding"), col("qv")) -
        VectorFunctions.dot(col("embedding"), col("qv"))).as("d"))
      .filter(col("d") =!= 0.0)
    assert(diffs.count() == 0)
  }

  test("FloatVectorDot matches HOF null semantics: length mismatch and null elements yield NULL") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (0, array(cast(1.0 as float), cast(2.0 as float)), array(cast(3.0 as float), cast(4.0 as float))),
        |  (1, array(cast(1.0 as float)),                      array(cast(3.0 as float), cast(4.0 as float))),
        |  (2, array(cast(1.0 as float), cast(null as float)), array(cast(3.0 as float), cast(4.0 as float))),
        |  (3, cast(null as array<float>),                     array(cast(3.0 as float)))
        |AS t(id, a, b)""".stripMargin)
    // null-for-null equality with the portable HOF form on every row — the
    // property that makes RewriteVectorDot semantics-preserving
    val disagree = df.select(
      (VectorFunctions.dotFast(col("a"), col("b")) <=>
        VectorFunctions.dot(col("a"), col("b"))).as("eq"))
      .filter(!col("eq"))
    assert(disagree.count() == 0)
    val vals = df.select(col("id"), VectorFunctions.dotFast(col("a"), col("b")).as("d"))
      .collect().sortBy(_.getInt(0))
    assert(!vals(0).isNullAt(1) && vals(0).getDouble(1) == 11.0)
    assert(vals(1).isNullAt(1) && vals(2).isNullAt(1) && vals(3).isNullAt(1))
  }

  // the literal composition PqArgminCells replaced (r16): per subspace j,
  // argmin over struct(normLit − 2.0·dotFast(subvec, centLit), cellIdx)
  private def literalCells(
      books: Array[Array[Array[Double]]], v: org.apache.spark.sql.Column,
      sub: Int, wholeVector: Boolean): org.apache.spark.sql.Column = {
    def centLit(c: Array[Double]) = array(c.map(x => lit(x.toFloat)): _*)
    def subvec(j: Int) = if (wholeVector) v else slice(v, j * sub + 1, sub)
    array(books.indices.map { j =>
      array_min(array(books(j).zipWithIndex.map { case (c, i) =>
        struct(
          (lit(c.map(x => x * x).sum) - lit(2.0) *
            VectorFunctions.dotFast(subvec(j), centLit(c))).as("dd"),
          lit(i).as("cell"))
      }: _*)).getField("cell")
    }: _*)
  }

  private def kernelCells(
      books: Array[Array[Array[Double]]], v: org.apache.spark.sql.Column,
      sub: Int, strictLen: Boolean): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftShim.column(graft.functions.PqArgminCells(
      org.apache.spark.sql.GraftShim.expression(v),
      books.map(_.map(_.toVector).toVector).toVector, sub, strictLen))

  test("PqArgminCells kernel ≡ literal argmin composition on the embeddings corpus (PQ shape)") {
    // deterministic pseudo-codebook with ties and negatives in range
    val rnd = new scala.util.Random(42)
    val books = Array.tabulate(8, 16, 8)((_, _, _) => (rnd.nextDouble() - 0.5) * 2)
    books(0)(1) = books(0)(0).clone() // duplicate centroid: argmin tie → lower cell
    val e = Tables(spark, sf, "embeddings")
    val disagree = e.select(
      (kernelCells(books, col("embedding"), 8, strictLen = false) <=>
        literalCells(books, col("embedding"), 8, wholeVector = false)).as("eq"))
      .filter(!col("eq"))
    assert(disagree.count() == 0)
  }

  test("PqArgminCells kernel ≡ literal argmin on hostile inputs (short, null-element, null, NaN)") {
    val books = Array(Array(Array(1.0, -2.0), Array(1.0, -2.0), Array(0.5, 0.25)))
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (0, array(cast(1.0 as float), cast(2.0 as float))),
        |  (1, array(cast(1.0 as float))),
        |  (2, array(cast(1.0 as float), cast(null as float))),
        |  (3, cast(null as array<float>)),
        |  (4, array(cast('NaN' as float), cast(2.0 as float))),
        |  (5, array(cast(1.0 as float), cast(2.0 as float), cast(9.0 as float)))
        |AS t(id, v)""".stripMargin)
    // PQ (slice) semantics: extra elements beyond m·sub are ignored by the
    // slice, short/null-element subvectors fall back to cell 0
    val dPq = df.select(
      (kernelCells(books, col("v"), 2, strictLen = false) <=>
        literalCells(books, col("v"), 2, wholeVector = false)).as("eq"))
      .filter(!col("eq"))
    assert(dPq.count() == 0)
    // IVF (whole-vector) semantics: any length ≠ sub is a dot mismatch →
    // null dd for every cell → cell 0 in both forms
    val dIvf = df.select(
      (kernelCells(books, col("v"), 2, strictLen = true) <=>
        literalCells(books, col("v"), 2, wholeVector = true)).as("eq"))
      .filter(!col("eq"))
    assert(dIvf.count() == 0)
  }

  test("brute-force topk returns exactly 5 ranked neighbors per query") {
    val out = Similarity.bruteForceTopK(spark, sf).collect()
    assert(out.length == 50)
    val byQ = out.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 10)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to 5L))
      // scores non-increasing in rank
      val sorted = rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("cos"))
      assert(sorted.zip(sorted.tail).forall { case (x, y) => x >= y })
    }
  }

  test("LSH topk scores agree with directly computed cosine for same pairs") {
    val lsh = Similarity.lshTopK(spark, sf)
      .select("q_id", "c_id", "cos")
    val e = Tables(spark, sf, "embeddings")
    val recomputed = lsh.join(
        e.select(col("vec_id").as("q_id"), col("embedding").as("qe")), "q_id")
      .join(e.select(col("vec_id").as("c_id"), col("embedding").as("ce")), "c_id")
      .withColumn("expect", round(
        VectorFunctions.dotFast(col("qe"), col("ce")) /
          (VectorFunctions.normFast(col("qe")) * VectorFunctions.normFast(col("ce"))), 6))
    assert(recomputed.filter(col("cos") =!= col("expect")).count() == 0)
  }

  test("LSH topk recall against brute force within shared pairs") {
    val truth = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val lsh = Similarity.lshTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val recall = (lsh & truth).size.toDouble / truth.size
    info(f"sign-LSH top-5 recall: $recall%.2f")
    assert(lsh.nonEmpty)
  }

  test("k-means IVF: deterministic, well-formed, scores exact, positive recall") {
    val out1 = Similarity.ivfKMeansTopK(spark, sf)
    val rows = out1.collect()
    // 10 queries × top-5, ranks exactly 1..5 per query
    assert(rows.length == 50)
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to 5L))
    }
    // deterministic end-to-end (seeded init + rounded centroid means)
    val again = Similarity.ivfKMeansTopK(spark, sf).collect().map(_.toString).sorted.toSeq
    assert(rows.map(_.toString).sorted.toSeq == again)
    // exact rows: pins the shared Lloyd trainer's op sequence at m = 1
    assert(digest(again) == "fe22f41c9b4b8172c13039ea820837362b546e001f344fab945142962070071b")
    // reported cosine equals a direct recomputation for every returned pair
    val e = Tables(spark, sf, "embeddings")
    val recomputed = out1.select("q_id", "c_id", "cos")
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("qe")), "q_id")
      .join(e.select(col("vec_id").as("c_id"), col("embedding").as("ce")), "c_id")
      .withColumn("expect", round(
        VectorFunctions.dotFast(col("qe"), col("ce")) /
          (VectorFunctions.normFast(col("qe")) * VectorFunctions.normFast(col("ce"))), 6))
    assert(recomputed.filter(col("cos") =!= col("expect")).count() == 0)
    // probing 2 of 8 cells still recovers a decent share of true top-5
    val truth = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val got = rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"k-means IVF (k=8, nprobe=2) top-5 recall: $recall%.2f")
    assert(recall > 0.1)
  }

  test("PQ topk: well-formed, deterministic, exact shortlist rescore, real recall") {
    val out1 = Similarity.pqTopK(spark, sf)
    val rows = out1.collect()
    assert(rows.length == 50)
    rows.groupBy(_.getAs[Long]("q_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to 5L))
    }
    // deterministic end-to-end (seeded init, decimal means, tie-broken argmins)
    val again = Similarity.pqTopK(spark, sf).collect().map(_.toString).sorted.toSeq
    assert(rows.map(_.toString).sorted.toSeq == again)
    // exact rows: pins the shared Lloyd trainer's op sequence at m = 8
    assert(digest(again) == "e2de7c72873c933b99a017a7eef72dfbac81745beebebb35f31ac811b270e385")
    // reported cosine is the EXACT cosine (shortlist rescore), not the ADC
    // approximation — recompute directly from raw embeddings
    val e = Tables(spark, sf, "embeddings")
    val recomputed = out1.select("q_id", "c_id", "cos")
      .join(e.select(col("vec_id").as("q_id"), col("embedding").as("qe")), "q_id")
      .join(e.select(col("vec_id").as("c_id"), col("embedding").as("ce")), "c_id")
      .withColumn("expect", round(
        VectorFunctions.dotFast(col("qe"), col("ce")) /
          (VectorFunctions.normFast(col("qe")) * VectorFunctions.normFast(col("ce"))), 6))
    assert(recomputed.filter(col("cos") =!= col("expect")).count() == 0)
    // the 40-candidate ADC shortlist must recover a solid share of true top-5
    val truth = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val got = rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val recall = (got & truth).size.toDouble / truth.size
    info(f"PQ (m=8, 16 codes, shortlist=40) top-5 recall: $recall%.2f")
    assert(recall > 0.2)
  }

  test("PQ codebook seeds clamp to a corpus smaller than ksub") {
    // 5 vectors < ksub=16: seeding must shrink the codebook (coarser
    // quantizer), not throw ArrayIndexOutOfBounds on seedRows(i)
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val tiny = (0L until 5L).map(i => (i, Array.fill(64)(rng.nextFloat())))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = Similarity.pqTopKOf(tiny, m = 8, ksub = 16, iters = 1, shortlist = 10)
      .collect()
    // 5 queries (all ids < 10) × up to 4 candidates each
    assert(out.length == 20)
    assert(out.map(_.getAs[Long]("q_id")).distinct.length == 5)
  }

  test("PQ training releases its per-iteration pins: persisted RDDs do not grow with iters") {
    // RDDs a call leaves persisted, with its result held (so only pins the
    // result no longer needs can be missing) — a per-iteration pin that
    // waits for the ContextCleaner makes iters = 3 leave two more than
    // iters = 1
    val sc = spark.sparkContext
    val corpus = Tables(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    def leftPersisted(iters: Int): Int = {
      val before = sc.getPersistentRDDs.keySet
      val out = Similarity.pqTopKOf(corpus, m = 8, ksub = 16, iters = iters, shortlist = 40)
      assert(out.collect().length == 50)
      val left = (sc.getPersistentRDDs.keySet -- before).size
      assert(out.count() == 50) // keeps `out` (and the pins it reads) reachable until here
      left
    }
    assert(leftPersisted(1) == leftPersisted(3))
  }

  test("persisted IVF index: the lazily read index tree is registered for deletion at exit") {
    val before = Scratch.pendingAtExit
    val out = Similarity.persistedIvfTopK(spark, sf)
    assert(out.collect().length == 50)
    val added = Scratch.pendingAtExit -- before
    assert(added.size == 1 && added.head.getName.startsWith("graft-ivf-ss5"), added)
    assert(new java.io.File(added.head, "idx").isDirectory)
  }

  test("IVF topk searches only the query's cell") {
    val out = Similarity.ivfTopK(spark, sf)
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id").as("c_id"), col("label").cast("long").as("expected_cell"))
    assert(out.join(e, "c_id").filter(col("cell") =!= col("expected_cell")).count() == 0)
  }

  test("persisted IVF index: probe equals the inline IVF search and prunes partitions dynamically") {
    Scratch.withTree("graft-ivf") { tree =>
      val dir = new java.io.File(tree, "idx").getPath
      val e = Tables(spark, sf, "embeddings")
      Similarity.buildIvfIndex(e, dir)
      val probe = Similarity.probeIvfIndex(spark, dir, e.filter(col("vec_id") < 10))
      // same cells (= label), same scoring → must equal the inline ss3 result
      val inline = Similarity.ivfTopK(spark, sf).collect().map(_.toString).toSeq
      assert(probe.collect().map(_.toString).toSeq == inline)
      // the index scan must carry a runtime partition filter on cell, not
      // read all cell= directories
      val p = probe.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        s"expected dynamic partition pruning on the index scan:\n${p.take(1200)}")
    }
  }
}
