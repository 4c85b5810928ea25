package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-shape audit over the registry.
  *
  * Two modes:
  *  - `runMain graft.tools.PlanAudit [names…]` — prints the formatted
  *    physical plan of the selected queries (the iterate-until-it's-the-
  *    plan-you-want loop for scale review).
  *  - `runMain graft.tools.PlanAudit --json PLANAUDIT_rN.json` — sweeps
  *    the FULL registry and emits one deterministic JSON object per query:
  *    exchange count, unpartitioned-window count, cartesian products,
  *    join-strategy mix (broadcast-hash / sort-merge / shuffled-hash /
  *    nested-loop), and per-table scans
  *    with their pruned column set and pushed filters. The recorded
  *    artifact turns the plan contracts that previously lived only in
  *    ScalaTest (ShuffleBudgetSpec, ScanPruningSpec) into driver-visible
  *    diffs, the way CORRECTNESS artifacts do for results: a refactor
  *    that silently adds a shuffle, loses a broadcast, widens a scan or
  *    plans a cartesian shows up as a JSON diff against the prior round.
  *    A top-level "violations" list flags the three hard invariants
  *    (unpartitioned windows, cartesian products, nondeterministic
  *    expressions — the last is retry/speculation safety, r11) so the
  *    gate needs no diffing to read.
  *
  * Eager-construction rows (training loops, LSH+CC, BPE rounds, the
  * streaming family) necessarily return a plan over their MATERIALIZED
  * result (scan of checkpoint + sort) — they are recorded with
  * `"materialized": true` and their plan metrics describe that visible
  * tail, not the severed construction (whose shape is pinned by the
  * operator specs instead).
  */
object PlanAudit {

  /** Queries whose fn runs eager jobs and returns a materialized tail:
    * the eight rows below plus every st row ([[isMaterialized]]). It is
    * wider than the plan-shape specs' `eagerConstruction` set, which skips
    * only the rows whose visible plan those sweeps cannot judge — bp3 and
    * st2–st8 are in this set but still swept there. Nothing keeps the two
    * in step: a drift here only mislabels `materialized`, never miscounts. */
  private val materialized: Set[String] = Set(
    "ss4_ivf_kmeans", "ss6_pq_topk", "ss5_ivf_persisted",
    "bp1_bpe_merges", "bp2_bpe_encode", "bp3_bpe_merges_distributed",
    "dd8_dup_clusters", "gr1_neardup_pagerank")

  private def isMaterialized(name: String): Boolean =
    materialized.contains(name) || name.startsWith("st")

  /** Every node of the physical plan, descending into AQE input plans,
    * cached-relation plans, and expression subqueries — the same walk the
    * plan-shape specs use. `QueryPlan.subqueries` is PER-NODE (not
    * recursive), so they are collected from EVERY walked node, not just
    * the recursion root — a scalar subquery hanging off a Filter three
    * levels down counts its exchanges like ShuffleBudgetSpec's regex over
    * treeString does (treeString renders subqueries as innerChildren). */
  private[graft] def walk(p: SparkPlan): Seq[SparkPlan] = {
    val nodes = p.collect { case n => n }
    nodes.flatMap {
      // initialPlan, not inputPlan: the prepared plan AFTER
      // EnsureRequirements (exchanges present), BEFORE any stage runs —
      // the static shape this audit records
      case a: AdaptiveSparkPlanExec => a +: walk(a.initialPlan)
      case m: InMemoryTableScanExec => m +: walk(m.relation.cachedPlan)
      case n => Seq(n)
    } ++ nodes.flatMap(_.subqueries).flatMap(walk)
  }

  /** Exchange count by typed node walk — exposed for PlanAuditSpec's
    * cross-check against ShuffleBudgetSpec's regex method, so the recorded
    * artifact and the CI budgets can never silently count differently. */
  private[graft] def exchangeCount(p: SparkPlan): Int =
    walk(p).count(_.isInstanceOf[ShuffleExchangeExec])

  /** Nondeterministic expressions anywhere in the walked plan, by class
    * name. At 1000 executors a task can run TWICE — retries and
    * speculative execution — and any rand()/uuid()/
    * monotonically_increasing_id()/input_file_name() in a query makes the
    * two attempts disagree, a wrong-results class no small-scale
    * correctness test catches (both attempts' outputs pass the oracle;
    * they just wouldn't have agreed with EACH OTHER). The registry's
    * contract is hard-zero: every operator derives identity and membership
    * from content hashes, never from physical placement. The one internal
    * `spark_partition_id()` (Prefix.rankedIds) is severed behind a
    * localCheckpoint — a single materialization whose blocks are reused,
    * never recomputed per consumer — so it cannot appear in (and is not
    * exempted from) the visible plans swept here. */
  private[graft] def nondeterministicExprs(p: SparkPlan): Map[String, Int] =
    walk(p).flatMap(_.expressions)
      // count the SOURCES (a nondeterministic node whose children are all
      // deterministic), not every ancestor the flag propagates through
      .flatMap(_.collect {
        case e if !e.deterministic && e.children.forall(_.deterministic) =>
          e.getClass.getSimpleName
      })
      .groupBy(identity).view.mapValues(_.size).toMap

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.SessionPolicy(s"local[$cpus]", cpus, logLevel = "ERROR").build()

    if (args.length == 2 && args(0) == "--json") { sweep(spark, sf, args(1)); spark.stop(); return }

    val names = if (args.nonEmpty) args.toSeq else graft.Registry.all.map(_.name)
    names.foreach { n =>
      println(s"\n================ $n ================")
      graft.Registry.queries(n)(spark, sf).explain("formatted")
    }
    spark.stop()
  }

  private def sweep(spark: SparkSession, sf: String, outPath: String): Unit = {
    val rows = graft.Registry.all.map(_.name).sorted.map { name =>
      val entry =
        try {
          val plan = graft.Registry.queries(name)(spark, sf).queryExecution.executedPlan
          val nodes = walk(plan)
          val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
          val unpartWindows = nodes.count {
            case w: WindowExec => w.partitionSpec.isEmpty
            case _ => false
          }
          val cartesian = nodes.count(_.isInstanceOf[CartesianProductExec])
          val nondet = nondeterministicExprs(plan)
          val bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec])
          val smj = nodes.count(_.isInstanceOf[SortMergeJoinExec])
          val shj = nodes.count(_.isInstanceOf[ShuffledHashJoinExec])
          val bnlj = nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec])
          val bcast = nodes.count(_.isInstanceOf[BroadcastExchangeExec])
          val scans = nodes.collect { case f: FileSourceScanExec => f }
            .flatMap { f =>
              val table = f.relation.location.rootPaths.map(_.getName)
                .collectFirst { case p if graft.Tables.names.exists(t => p.startsWith(t)) =>
                  p.stripSuffix(".parquet") }
              table.map { t =>
                val cols = f.requiredSchema.fieldNames.sorted.toSeq
                val pushed = f.metadata.getOrElse("PushedFilters", "[]")
                s"""{"table": ${jstr(t)}, "columns": [${cols.map(jstr).mkString(", ")}], "pushed_filters": ${jstr(pushed)}}"""
              }
            }
            // one line per distinct (table, columns, filters) — dedup keeps
            // the artifact diff-stable when a relation is scanned twice
            .distinct.sorted
          s"""  ${jstr(name)}: {
             |   "materialized": ${isMaterialized(name)},
             |   "exchanges": $exchanges,
             |   "unpartitioned_windows": $unpartWindows,
             |   "cartesian_products": $cartesian,
             |   "joins": {"broadcast_hash": $bhj, "sort_merge": $smj, "shuffled_hash": $shj, "broadcast_nested_loop": $bnlj},
             |   "broadcast_exchanges": $bcast,
             |   "nondeterministic_exprs": {${nondet.toSeq.sorted.map { case (k, v) => s"${jstr(k)}: $v" }.mkString(", ")}},
             |   "scans": [${scans.mkString(",\n     ")}],
             |   "err": null
             |  }""".stripMargin -> (unpartWindows > 0 || cartesian > 0 || nondet.nonEmpty)
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\\n\\r\\t]", " ").take(160)
            s"""  ${jstr(name)}: {"err": ${jstr(msg)}}""" -> true
        }
      (name, entry._1, entry._2)
    }
    val violations = rows.collect { case (n, _, true) => jstr(n) }
    val json =
      s"""{
         | "sf": ${jstr(sf)},
         | "invariants": "hard: unpartitioned_windows == 0, cartesian_products == 0 and nondeterministic_exprs == {} for every query (the last is retry/speculation safety: two attempts of one task must produce identical rows); soft: exchange counts, join mix, scan column sets and pushed filters are DIFFED against the prior round's artifact",
         | "violations": [${violations.mkString(", ")}],
         | "queries": {
         |${rows.map(_._2).mkString(",\n")}
         | }
         |}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(s"[planaudit] ${rows.size} queries, ${violations.size} violations -> $outPath")
  }
}
