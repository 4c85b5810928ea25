package graft.operators

import graft.Ckpt
import graft.Ckpt.PinOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over pair relations.
  *
  * Complements [[Dedup.connectedComponents]] (membership) with an
  * importance measure: PageRank picks the best CANONICAL document inside a
  * near-duplicate cluster (the variant most other variants resemble), where
  * CC alone can only pick an arbitrary one.
  *
  * Scale shape per iteration: one shuffle — contributions grouped by
  * destination — joined against the static degree relation; ranks and
  * degrees are co-partitioned on the node key, so AQE keeps the join local.
  * Lineage is truncated with a LAZY localCheckpoint per iteration
  * (10 unrolled joins would otherwise stack into one exponential Catalyst
  * plan — same lesson as the CC loop). The iterations run no action: with
  * AQE off the rounds' shuffle stages run inside the final action, but
  * under AQE (Spark's default) each round's pin runs that round's
  * shuffle-map stages as it is built (`Ckpt.pinLazy`). `Ckpt.rounds` drives the
  * iterations and releases the ranks no later round reads.
  *
  * Determinism: ranks accumulate in SCALED-INTEGER FIXED POINT — rank·10¹⁸
  * carried as an integer, every division an explicit truncating integral
  * division (`div` here, `//` in DuckDB — identical on non-negative
  * operands). Integer addition is exact and order-independent (unlike
  * float sums, whose grouping varies with partitioning), so every run —
  * any partitioning, any executor count, and any ENGINE implementing the
  * same recurrence — yields bit-identical ranks. That is what upgrades gr1
  * from a rows-only check to a full cross-engine oracle: the earlier
  * DECIMAL(20,18) form was partition-deterministic but not
  * engine-portable (DuckDB's decimal-division scale rules differ); floor
  * division of non-negative integers has no such freedom. Truncation
  * loses < 10⁻¹⁸ per division, ~10⁻¹⁷ over 10 iterations — invisible at
  * any reporting precision.
  */
object Graph {

  /** Fixed-point scale: rank 1.0 ≡ 10¹⁸. Total mass is ≤ 10¹⁸ so every
    * rank, inflow sum, and teleport term fits a 64-bit long; only the
    * damping product (85 × inflow ≤ 8.5·10¹⁹) needs the transient
    * DECIMAL(38,0)/HUGEINT widening before its `div 100`. */
  val FpScale: Long = 1000000000000000000L

  /** Damping factor as a whole percentage: the recurrence multiplies by it
    * and integer-divides by 100, so it stays exact on both engines. */
  val DampingPct = 85

  /** PageRank rounds; gr1's oracle unrolls the same count. */
  val Iterations = 10

  /** Undirected PageRank on a pair relation (columns = two node ids).
    * Returns `(node, rank_fp, rank)`: the exact fixed-point integer and a
    * display double (`rank_fp / 10¹⁸`), after [[Iterations]] rounds at
    * [[DampingPct]]. */
  def pageRank(pairs: DataFrame): DataFrame = {
    val edges = pairs.toDF("a", "b")
    val sym = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b")).distinct()
      .pinLazy()
    // Degree is static — fold it into the edge relation ONCE so each
    // iteration is a single join (ranks ⋈ weighted edges) + one aggregation
    // instead of two joins; over 10 iterations that drops 10 join stages
    // from the run. The node relation IS deg's key set (every node of a
    // pair graph has degree ≥ 1), so deg doubles as the node table — the
    // former separate `sym.select(a).distinct()` shuffle + pin + count
    // re-derived the same keys a second time (r15 optimization round).
    val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      .pinLazy()
    val n = deg.count()
    require(n > 0, "pageRank needs at least one edge")
    val weightedEdges = sym.join(deg.withColumnRenamed("node", "a"), "a")
      .select(col("a"), col("b"), col("deg")).pinLazy()
    // teleport (1−d)/n in fixed point: (100−pct)·10¹⁶ is exact (10¹⁸/100),
    // then one truncating division by n — mirrored verbatim in the oracle
    val teleport = (100L - DampingPct) * (FpScale / 100L) / n

    // round 0: every node starts at 1/n
    val ranks = Ckpt.rounds(pins =>
      pins(deg.select("node").withColumn("s", lit(FpScale / n))))(Seq(_)) { (pins, ranks, _) =>
      // The symmetrized graph gives every node degree ≥ 1 in BOTH
      // directions, so the destination key set of `contribs` is exactly
      // the node set — the former per-iteration `nodes` LEFT join +
      // COALESCE was belt-and-braces that cost one extra join + exchange
      // per iteration; the teleport-plus-damped map applies directly to
      // the aggregation output (r15 opt round, results bit-identical —
      // gr1's fixed-point oracle re-checks every rank). The pin severs
      // the Catalyst plan per iteration, so analysis cost stays O(1) per
      // round.
      pins(weightedEdges
        .join(ranks.withColumnRenamed("node", "a"), "a")
        .select(col("b").as("node"), expr("s div deg").as("c"))
        .groupBy("node").agg(sum("c").as("inflow"))
        .select(col("node"),
          expr(s"$teleport + (CAST($DampingPct AS DECIMAL(38,0)) * inflow) div 100")
            .as("s")))
    }((_, round) => round >= Iterations)
    ranks.select(col("node"), col("s").as("rank_fp"),
      (col("s").cast("double") / FpScale.toDouble).as("rank"))
  }

  /** PageRank over the sampled Jaccard near-dup graph: rank within each
    * duplicate cluster = how central a variant is. Deterministic input
    * (dd3's exact sampled pairs), deterministic engine-portable iteration ⇒
    * the exact fixed-point ranks hash-match the oracle's unrolled
    * recurrence (Registry.gr1OracleSql). */
  def neardupPageRank(s: SparkSession, dir: String): DataFrame =
    pageRank(Dedup.jaccardPairs(s, dir).select("id_a", "id_b"))
      .select("node", "rank_fp")
      .orderBy("node")

  /** Per-node triangle counts on an ordered pair relation (a < b on every
    * edge, as dedup pair outputs guarantee). Wedge enumeration: join edges
    * on the shared middle endpoint — the a<b<c orientation means each
    * triangle is generated exactly once — then a semi-join closes the
    * (a, c) side. Two equi-join shuffles on node keys, never all-pairs;
    * wedge volume is Σ deg², which upstream LSH bucket caps already bound
    * (the same skew that would blow up here would have blown up the
    * candidate join that produced the edges). The edge relation is
    * materialized once and reused by all three join branches. */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    val e = pairs.toDF("a", "b").pinLazy()
    val wedge = e.join(
      e.select(col("a").as("b"), col("b").as("c")), "b")
    val tri = wedge.join(
      e.select(col("a").as("a3"), col("b").as("c3")),
      col("a") === col("a3") && col("c") === col("c3"), "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("node")
  }

  /** Triangle counts over the near-dup graph: triangles are the
    * transitivity evidence that a candidate pair group really is ONE
    * duplicate cluster (A≈B, B≈C, A≈C) rather than a chain of borderline
    * matches. Exact sampled input (dd3) ⇒ full DuckDB oracle. */
  def neardupTriangles(s: SparkSession, dir: String): DataFrame =
    triangleCounts(Dedup.jaccardPairs(s, dir).select("id_a", "id_b"))
}
