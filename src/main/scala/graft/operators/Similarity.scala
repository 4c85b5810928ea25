package graft.operators

import graft.Ckpt.PinOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Ckpt, Scratch, Tables}
import graft.functions.Kernels.pqArgminCells
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  *  - `bruteForceTopK` is the exact baseline: query-set × corpus join with
  *    codegen'd cosine, per-query top-k via window rank. Cost |Q|·|C| —
  *    fine for small query sets, the correctness oracle for ANN variants.
  *  - `lshTopK` is the scale path: random-hyperplane LSH buckets both sides
  *    so the join is an equi-join on bucket id (shuffle on a compact key,
  *    candidate count ≈ |Q|·|C|/2^bits per probe), then exact cosine rescores
  *    within buckets. Hyperplanes are seeded constants ⇒ fully deterministic.
  */
object Similarity {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** The embeddings table under the zero-norm exclusion contract (found by
    * the extreme-values tier): a zero-norm vector has no direction, so
    * cosine against it is 0/0 — which DuckDB's list_cosine_similarity
    * special-cases to -1.0 while Spark's dot/(‖a‖‖b‖) throws DIVIDE_BY_ZERO
    * under this build's ANSI default (even for doubles). One all-zero
    * embedding at 100 TB — an empty input to the encoder — would kill the
    * whole search job. Every similarity operator therefore excludes
    * zero-norm rows AT THE SOURCE, and every oracle carries the same guard
    * ([[graft.Registry]] `guardVec`). The predicate is an exact
    * component-wise comparison (not `norm > 0`) so float-squaring
    * underflow cannot diverge from the oracle's double-precision filter. */
  private[graft] def vectors(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").filter(exists(col("embedding"), _ =!= lit(0.0f)))

  private[graft] val Dim = 64
  private[graft] val LshBits = 6

  /** Neighbors returned per query by every top-k here. */
  val TopK = 5

  /** ss4's coarse quantizer: `IvfCells` k-means cells trained for
    * `IvfIters` Lloyd passes; each query probes its `IvfProbes` nearest
    * cells. */
  val IvfCells = 8
  val IvfIters = 3
  val IvfProbes = 2

  /** ss6's product quantizer: `PqSubspaces` subspaces of `PqCells` cells
    * each, trained for `PqIters` Lloyd passes on a sample of about
    * `PqTrainSample` vectors; the top `PqShortlist` ADC candidates per
    * query are rescored exactly. */
  val PqSubspaces = 8
  val PqCells = 16
  val PqIters = 2
  val PqTrainSample = 4096L
  val PqShortlist = 40

  private def centLit(c: Array[Double]): Column = array(c.map(x => lit(x.toFloat)): _*)

  /** The one Lloyd trainer behind both quantizers: IVF's coarse quantizer
    * (ss4) is a product quantizer with a single subspace (`m` = 1, `sub` =
    * [[Dim]], whole-vector validity `strictLen`); PQ (ss6) trains `m`
    * subspaces of `sub` dims at once. Returns `m` codebooks of at most `k`
    * centroids each.
    *
    * Each iteration is one distributed pass: posexplode puts every
    * (dim, value) on its own row, `pos div sub` recovers the subspace, and
    * only the m·k·sub means cross to the driver (metadata scale; the same
    * loop structure MLlib's KMeans uses) — the corpus never collects.
    *
    * Determinism AND portability — every step below is bit-stable across
    * runs, partitionings and engines, which is what gives ss4 and ss6 FULL
    * DuckDB oracles (Registry.ss4OracleSql / ss6OracleSql replay this op
    * sequence as chained CTEs; change all three together):
    *  - seeds: the k lowest vec_ids of `train` (not `vec_id < k`, which
    *    under-seeds sparse or shifted ids), sliced per subspace; k clamps
    *    to the vectors present — a tiny corpus or sparse hash sample
    *    shrinks the codebook (coarser quantizer) instead of throwing;
    *  - assignment: the [[graft.functions.PqKernel]] argmin, ties to the
    *    lower cell id. One stable-shaped kernel instead of per-centroid
    *    literal dot expressions: the codebook is an object literal, so the
    *    generated source (and its janino compilation) is shared across
    *    iterations and the corpus encode (r16 optimization round);
    *  - means: each coordinate quantized to round(x·10⁹) and summed EXACTLY
    *    as decimal(38,0) per (subspace, cell, dim) — order-independent,
    *    unlike float avg(), which could straddle the 1e-6 rounding boundary
    *    below; long sums could overflow at corpus scale, and decimal
    *    DIVISION rounds differently across engines — then re-derived
    *    driver-side with a fixed IEEE double sequence: exact integer →
    *    double, /cnt, /1e9, ·1e6, +0.5, floor, /1e6;
    *  - a cell with no members keeps its previous centroid (the oracles'
    *    LEFT JOIN … CASE). */
  private def lloyd(
      train: DataFrame, k: Int, m: Int, sub: Int, strictLen: Boolean,
      iters: Int, caller: String): Array[Array[Array[Double]]] = {
    val seeds = train.orderBy("vec_id").limit(k)
      .collect().map(_.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
    // loud degenerate-input contract (the pageRank convention): training a
    // quantizer on nothing would otherwise die deep inside the cell
    // expression with an unhelpful analysis error
    require(seeds.nonEmpty, s"$caller needs a non-empty embeddings corpus")
    Ckpt.rounds(_ => Array.tabulate(m, seeds.length)((j, i) => seeds(i).slice(j * sub, (j + 1) * sub)))(
      _ => Nil) { (pins, books, _) =>
      // assignments MATERIALIZE before the dimension explode: left inline,
      // CollapseProject folds the all-subspace kernel into the post-explode
      // projection and re-evaluates it per exploded dimension (64× per
      // vector — measured 31 s vs 1.4 s per pass at sf0.1 on the old
      // literal form; the same re-evaluation trap as
      // TextAnalysis.bigramStream's re-split). Nothing live reads the pin
      // once the collect below has run, so the next sweep releases it.
      val assigned = pins(train
        .select(col("embedding"), pqArgminCells(col("embedding"), books, sub, strictLen).as("cells")))
      val means = assigned
        .select(col("cells"), posexplode(col("embedding")))
        .toDF("cells", "pos", "x")
        .withColumn("j", expr(s"pos div $sub"))
        .select(col("j"), col("pos"),
          element_at(col("cells"), col("j").cast("int") + 1).as("cell"), col("x"))
        .groupBy("j", "cell", "pos")
        .agg(
          sum(floor(col("x").cast("double") * lit(1e9) + lit(0.5))
            .cast("decimal(38,0)")).as("s"),
          count(lit(1)).as("cnt"))
        .collect() // m·k·sub rows — metadata scale
      val next = books.map(_.map(_.clone()))
      means.foreach { r =>
        val mv = r.getAs[java.math.BigDecimal]("s").doubleValue /
          r.getAs[Long]("cnt").toDouble / 1e9
        // `div` yields LONG regardless of operand width
        next(r.getAs[Long]("j").toInt)(r.getAs[Int]("cell"))(r.getAs[Int]("pos") % sub) =
          math.floor(mv * 1e6 + 0.5) / 1e6
      }
      next
    }((_, round) => round >= iters)
  }

  /** `e`'s (vec_id, embedding) as one side of a cosine join: (q_id, qv, qn)
    * for `p` = "q", (c_id, cv, cn) for "c", followed by `extra`. */
  private def side(e: DataFrame, p: String, extra: Column*): DataFrame =
    e.select(Seq(col("vec_id").as(s"${p}_id"), col("embedding").as(s"${p}v"),
      normFast(col("embedding")).as(s"${p}n")) ++ extra: _*)

  /** The exact-cosine tail every top-k here ends in: score each pair of
    * `pairs` (q_id/qv/qn × c_id/cv/cn) as round-6 cosine, rank per query on
    * (cos desc, c_id) — the id tie-break makes ranks cross-engine
    * deterministic — and keep the top [[TopK]] as (q_id, [cell,] c_id, cos,
    * rk), `cell` cast to long. */
  private def cosineTopK(pairs: DataFrame, cell: Option[Column] = None): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    pairs
      .withColumn("cos",
        round(dotFast(col("qv"), col("cv")) / (col("qn") * col("cn")), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(Seq(col("q_id")) ++ cell.map(_.cast("long").as("cell")) ++
        Seq(col("c_id"), col("cos"), col("rk")): _*)
      .orderBy("q_id", "rk")
  }

  /** Exact top-k neighbors for query vectors (vec_id < 10) — the
    * [[cosineTopK]] tail over the full query × corpus product. */
  def bruteForceTopK(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    cosineTopK(broadcast(side(e.filter(col("vec_id") < 10), "q"))
      .join(side(e, "c"), col("q_id") =!= col("c_id")))
  }

  /** Deterministic ±1 hyperplane entry, ENGINE-PORTABLE: (p, j) is +1 iff
    * the first hex digit of md5("p:j") is ≥ 8 (digest top bit set). DuckDB
    * re-derives the identical sign — `strpos('89abcdef',
    * substr(md5(p||':'||j), 1, 1)) > 0` — which is what gives ss2 a full
    * oracle: the projection Σ ±x_j is a sequential double sum on both
    * engines ([[graft.functions.FloatVectorDot]]'s accumulation order ≡ an
    * unrolled left-associated `+` chain), so bucket assignment is
    * bit-exact cross-engine. */
  private[graft] def lshPlaneSign(p: Int, j: Int): Float = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (((d(0) >> 4) & 0xf) >= 8) 1.0f else -1.0f
  }

  /** The hyperplanes as literal ±1 arrays ([[lshPlaneSign]] entries), so
    * the bucketing expression is constant-folded into the scan. */
  private def planes(nPlanes: Int): Seq[Column] =
    (0 until nPlanes).map { p =>
      array((0 until Dim).map(j => lit(lshPlaneSign(p, j))): _*)
    }

  private def bucketOf(v: Column, ps: Seq[Column]): Column =
    ps.zipWithIndex.map { case (p, i) =>
      when(dotFast(v, p) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN via sign-LSH bucketing ([[LshBits]] hyperplanes → 64 buckets)
    * with multi-probe: each query also probes every 1-bit-flipped bucket
    * (the standard recall/cost knob — candidates ≈ (1+bits)·n/2^bits per
    * query), then exact cosine rescores the DISTINCT candidate set (a
    * candidate reachable through several probe buckets scores once, which
    * also makes the rank deterministic). The md5-derived hyperplanes
    * ([[lshPlaneSign]]) make the ENTIRE pipeline — buckets, probes,
    * candidates, ss1-style round-6 cosine, top-k — re-derivable in DuckDB,
    * so ss2 carries a full hash-checked oracle; recall vs brute force
    * stays a SimilaritySpec property (approximate by design). */
  def lshTopK(s: SparkSession, d: String): DataFrame = {
    val ps = planes(LshBits)
    val e = vectors(s, d)
    val withBucket = e.withColumn("bucket", bucketOf(col("embedding"), ps))
    val probeCols = lit(0L) +: (0 until LshBits).map(i => lit(1L << i))
    val q = withBucket.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("bucket"))
      .withColumn("bucket", explode(array(probeCols.map(col("bucket").bitwiseXOR(_)): _*)))
    val c = withBucket.select(col("vec_id").as("c_id"), col("bucket"))
    val cand = q.join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id").distinct()
    cosineTopK(cand.join(broadcast(side(e.filter(col("vec_id") < 10), "q")), "q_id")
      .join(side(e, "c"), "c_id"))
  }

  /** Genuine IVF: deterministic Lloyd k-means ([[lloyd]] with one
    * whole-vector subspace) builds the coarse quantizer, then queries probe
    * their [[IvfProbes]] nearest cells and rescore exactly. Search is the IVF
    * shape: candidates come from an equi-join on cell id, so each query
    * scans ~IvfProbes/IvfCells of the corpus. The trainer's portability contract is
    * what gives ss4 a FULL DuckDB oracle (Registry.ss4OracleSql): the
    * whole 3-iteration loop, corpus assignment and probe unroll as chained
    * CTEs. Recall vs brute force stays a SimilaritySpec property
    * (approximate by design — the oracle checks the pipeline, not ANN
    * quality). */
  def ivfKMeansTopK(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
      .select(col("vec_id"), col("embedding"))
      .pinLazy() // reused by every Lloyd pass + the final search
    val cents = lloyd(e, IvfCells, m = 1, sub = Dim, strictLen = true, IvfIters, "ivfKMeansTopK")
    // argmin_c |x-c|^2 = argmin_c (|c|^2 - 2 x·c): one codegen'd dot per
    // centroid, ties broken by cell id through struct ordering
    val probeCells = cents(0).zipWithIndex.toSeq.map { case (c, i) =>
      struct(
        (lit(c.map(x => x * x).sum) - lit(2.0) * dotFast(col("embedding"), centLit(c))).as("d"),
        lit(i).as("cell"))
    }
    // same kernel as training: identical generated source → the corpus
    // assignment reuses the training pass's compiled stage
    val c = side(e, "c",
      element_at(pqArgminCells(col("embedding"), cents, Dim, strictLen = true), 1).as("cell"))
    val q = side(e.filter(col("vec_id") < 10), "q",
      explode(slice(array_sort(array(probeCells: _*)), 1, IvfProbes).getField("cell")).as("cell"))
    cosineTopK(q.join(c, Seq("cell")).filter(col("q_id") =!= col("c_id")), Some(col("cell")))
  }

  /** Build the IVF index as a PERSISTED cell-partitioned parquet layout —
    * the build-once / probe-many serving shape. Each cell is a `cell=N`
    * directory, norms precomputed at build time, so probes never touch
    * other cells' bytes. At 100 TB the index build is one partitioned
    * write; probes are metadata-pruned scans of ~nprobe/k of the data. */
  def buildIvfIndex(embeddings: DataFrame, outDir: String): Unit = {
    // loud degenerate-input contract (the pqTopK/pageRank convention): an
    // empty build writes NO files, and the later probe's schema inference
    // would die with an unrelated-looking error
    require(!embeddings.isEmpty, "buildIvfIndex needs a non-empty embeddings corpus")
    embeddings
      .select(col("vec_id"), col("embedding"),
        normFast(col("embedding")).as("n"), col("label").cast("int").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(outDir)
  }

  /** Probe the persisted index with a query relation. The probe joins the
    * index on `cell` against the (small, broadcast) query set, which
    * triggers DYNAMIC PARTITION PRUNING: Spark computes the query cells at
    * runtime and prunes the index scan to those `cell=` directories before
    * reading them (plan-asserted in SimilaritySpec) — no manual cell-list
    * plumbing, and the same plan at any index size. */
  def probeIvfIndex(s: SparkSession, indexDir: String, queries: DataFrame): DataFrame = {
    val idx = s.read.parquet(indexDir).select(col("vec_id").as("c_id"),
      col("embedding").as("cv"), col("n").as("cn"), col("cell"))
    val q = side(queries, "q", col("label").cast("int").as("cell"))
    cosineTopK(idx.join(broadcast(q), Seq("cell")).filter(col("q_id") =!= col("c_id")),
      Some(col("cell")))
  }

  /** Registry query (ss5): the full persisted-index lifecycle in one
    * relation — build the cell-partitioned index into a fresh temp
    * directory, then probe it. Cells equal `label` and scoring matches
    * [[ivfTopK]] exactly, so the probe result is byte-identical to ss3's
    * and shares its DuckDB oracle: the dynamic-partition-pruned path gets
    * a hash-checked CORRECTNESS row, not just a plan test. The returned
    * relation reads the index lazily, so the tree is deleted at JVM exit,
    * not when this returns. */
  def persistedIvfTopK(s: SparkSession, d: String): DataFrame = {
    val dir = Scratch.deleteAtExit(java.nio.file.Files.createTempDirectory("graft-ivf-ss5").toFile)
      .toPath.resolve("idx").toString
    val e = vectors(s, d)
    buildIvfIndex(e, dir)
    probeIvfIndex(s, dir, e.filter(col("vec_id") < 10))
  }

  /** Product-quantization ANN (ss6): the compressed-domain scale path.
    * The 64-dim float vector (256 B) is quantized to [[PqSubspaces]] = 8
    * sub-codes of
    * 4 bits (one byte-array column, 32× smaller), and candidate generation
    * scans ONLY the code table with per-query lookup tables — at 100 TB
    * the raw embedding column is touched just twice (codebook training and
    * the final shortlist rescore of |Q|·shortlist rows), while the
    * brute-force part of the search runs over a relation 32× narrower
    * than the corpus.
    *
    * Training is [[lloyd]] over all `m` subspaces at once — one
    * distributed pass per iteration, (subspace, cell, dim) means at
    * metadata scale (m·ksub·sub = 1024 rows). Its portability contract
    * makes codes, shortlists and results bit-stable across runs,
    * partitionings and engines, which is what gives ss6 a FULL DuckDB
    * oracle (Registry.ss6OracleSql) covering training, encode, ADC
    * shortlist and rescore end to end.
    *
    * Search: asymmetric distance (ADC). Each query precomputes, per
    * subspace, the dot of its sub-vector with every centroid (plus the
    * centroid norm table, a query-independent literal), so approximate
    * cosine is 8 array lookups per candidate — no vector math on the
    * corpus side. The ADC shortlist (top `shortlist` per query) is then
    * rescored EXACTLY against the raw embeddings and the top k of that is
    * returned. Recall floors stay in SimilaritySpec (approximate by
    * design — the oracle checks the pipeline, not ANN quality). */
  def pqTopK(s: SparkSession, d: String): DataFrame =
    pqTopKOf(vectors(s, d).select(col("vec_id"), col("embedding")),
      PqSubspaces, PqCells, PqIters, PqShortlist)

  /** [[pqTopK]] over an explicit (vec_id, embedding) relation — the
    * testable core (SimilaritySpec drives it with a corpus smaller than
    * `ksub` to pin the seed-clamp behavior). */
  private[graft] def pqTopKOf(
      corpus: DataFrame,
      m: Int, ksub: Int, iters: Int, shortlist: Int): DataFrame = {
    val sub = Dim / m
    val e = corpus
      .pinLazy() // reused: training passes, encode, rescore
    def subvec(v: Column, j: Int): Column = slice(v, j * sub + 1, sub)

    // Codebooks train on a deterministic id sample (~PqTrainSample
    // vectors, all of a small corpus) — the standard PQ recipe: codebook
    // quality needs a representative subset, not the corpus, and at 100 TB
    // a full-corpus Lloyd pass per iteration would dominate the build.
    val train = Sampling.idSample(e, "vec_id", PqTrainSample).pinLazy()
    // all-subspace assignment in the stable-shaped kernel: one compiled
    // stage shared by every iteration AND the final encode
    val books = lloyd(train, ksub, m, sub, strictLen = false, iters, "pqTopK")
    Ckpt.release(train) // only training reads the sample

    // encode the corpus ONCE into the compact code table (8 small ints per
    // vector — the 32×-compressed relation everything downstream scans);
    // materialized so the candidate join starts from stored codes, not a
    // re-encode under the join
    val codes = e.select(col("vec_id").as("c_id"),
      pqArgminCells(col("embedding"), books, sub, strictLen = false).as("codes"))
      .pinLazy() // severed plan; blocks land on the first scan
    // centroid squared-norm tables (query-independent literals)
    val normLut: Seq[Column] =
      (0 until m).map(j => array(books(j).map(c => lit(c.map(x => x * x).sum)): _*))
    val q = (0 until m).foldLeft(side(e.filter(col("vec_id") < 10), "q")) { (df, j) =>
      df.withColumn(s"lut$j",
        array(books(j).map(c => dotFast(subvec(col("qv"), j), centLit(c))): _*))
    }
    val adc = (0 until m).map(j =>
      element_at(col(s"lut$j"), element_at(col("codes"), j + 1) + 1)).reduce(_ + _)
    // reconstructed candidate norm, also a pure code lookup
    val approx = adc / (col("qn") * sqrt((0 until m).map(j =>
      element_at(normLut(j), element_at(col("codes"), j + 1) + 1)).reduce(_ + _)))
    val wA = Window.partitionBy("q_id").orderBy(col("approx").desc, col("c_id"))
    val short = broadcast(q).join(codes, col("q_id") =!= col("c_id"))
      .withColumn("approx", approx)
      .withColumn("ark", row_number().over(wA))
      .filter(col("ark") <= shortlist)
      .select("q_id", "c_id")
    // exact rescore of the shortlist only — the shared rescore stage
    rescoreTopK(e, short)
  }

  /** Exact cosine top-k over an explicit (q_id, c_id) candidate relation —
    * the rescore stage every sketch-based ANN variant ends in (the PQ ADC
    * shortlist feeds it directly above; LSH/IVF end in the same
    * [[cosineTopK]] tail). Only candidates pay the raw-vector join, so cost
    * is |candidates|, not |Q|·|C|. Registered standalone as ss7 over a
    * deterministic candidate rule so the exact stage carries its own
    * hash-checked CORRECTNESS row, isolating sketch recall (measured in
    * SimilaritySpec) from rescore math (oracle-exact). */
  def rescoreTopK(e: DataFrame, candidates: DataFrame): DataFrame =
    // candidate side BROADCAST into the corpus join (r15 opt round): the
    // candidate list is |Q|·shortlist rows by construction — without the
    // hint the planner has no stats on the derived side and sort-merges,
    // shuffling the ENTIRE raw-vector corpus to meet a few hundred rows
    // (guide §3.1: hint when you know a side is small and estimates don't)
    cosineTopK(broadcast(candidates.join(broadcast(side(e, "q")), "q_id"))
      .join(side(e, "c"), "c_id"))

  /** ss7: [[rescoreTopK]] on a FIXED deterministic candidate set (every
    * 17th vector, offset 3 — standing in for a sketch shortlist, but
    * expressible identically in ANSI SQL). The oracle hash-checks the exact
    * stage end to end: candidate join, float dot/norm, 1e-6 rounding, rank
    * tie-break. */
  def fixedCandidateRescore(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    val cands = broadcast(e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id")))
      .crossJoin(e.filter(col("vec_id") % 17 === 3).select(col("vec_id").as("c_id")))
      .filter(col("q_id") =!= col("c_id"))
    rescoreTopK(e, cands)
  }

  /** IVF-style variant: coarse partitions from label (stand-in for k-means
    * cell ids at scale), search restricted to the query's cell. Demonstrates
    * the partition-pruned ANN shape: the corpus is clustered/bucketed once,
    * queries only scan their cell. */
  def ivfTopK(s: SparkSession, d: String): DataFrame = {
    val e = vectors(s, d)
    val q = side(e.filter(col("vec_id") < 10), "q", col("label"))
    cosineTopK(q.join(side(e, "c", col("label")), Seq("label"))
      .filter(col("q_id") =!= col("c_id")), Some(col("label")))
  }
}
