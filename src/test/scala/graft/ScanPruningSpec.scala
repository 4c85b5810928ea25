package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Scan-pruning contract for the corpus's one heavy column: at 100 TB,
  * `documents.text` IS the table (the metadata columns are rounding error),
  * so a query that touches documents but doesn't need the text must not
  * read it — column pruning has to reach the parquet scan, or a schema-level
  * "free" audit silently pays the full-corpus IO bill. This spec walks every
  * registered query's physical plan and ratchets the set of queries whose
  * documents scan includes `text`: adding a text-reading query means adding
  * it to the allowlist HERE, with the reviewer asking "does it really need
  * the bytes?".
  *
  * Queries whose documents scan hides behind an eager `localCheckpoint`
  * (the dd3-derived family) sever the file scan from the visible plan, so
  * the ratchet covers what the planner shows — the checkpointed relations
  * are themselves built from allowlisted derivations (dd3's tokens), and
  * the eager-construction queries excluded from plan walks elsewhere are
  * excluded here for the same reason (plan build runs jobs).
  */
class ScanPruningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect {
      case a: AdaptiveSparkPlanExec => scans(a.inputPlan)
      // see through cached subtrees: if another suite cached a
      // documents-derived relation, the CacheManager substitutes it into
      // this plan and would otherwise hide the underlying file scan —
      // making the ratchet's verdict depend on suite order
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case f: FileSourceScanExec => Seq(f)
    }.flatten ++ p.subqueries.flatMap(scans)

  private val eagerConstruction = Set(
    "ss4_ivf_kmeans", "ss6_pq_topk", "ss5_ivf_persisted",
    "bp1_bpe_merges", "bp2_bpe_encode", "dd8_dup_clusters", "gr1_neardup_pagerank",
    // st1's construction stages files and runs the whole ingest stream;
    // its returned plan is a plain scan+project+sort over the survivors
    "st1_stream_dedup_ingest")

  /** Queries allowed to read documents.text — each one consumes the bytes
    * (tokenizes, fingerprints, chunks, scores, or uses them as the
    * multimodal payload substrate). Everything else that touches documents
    * must prune the column at the scan — pp2/pp7 (id-hash splits), sm1–sm3
    * (metadata sampling) are the standing negatives proving the pruning
    * reaches the parquet scan. dd3-derived queries (dd3, dd10, dd12, pp12,
    * pp13, gr2) checkpoint their token derivation, so their text read is
    * inside the severed (allowlisted-shape) prefix, not this visible scan. */
  private val textReaders = Set(
    // dedup: normalize/fingerprint/chunk/prefix the text
    "dd1_exact_dedup", "dd2_fingerprint_dedup", "dd7_winnow_fingerprints",
    "dd9_edit_distance", "dd11_chunk_dedup", "dd13_quality_canonical",
    // text analysis: tokenize and score
    // tx8/tx9 left this list in the r15 optimization round: their shared
    // term-frequency aggregate is now lazily pinned, so the text scan
    // lives under the severed LogicalRDD prefix (like the eager-
    // construction rows) — the visible plan reads stored (doc, term)
    // aggregates only. tx10 keeps a visible text scan via its unpinned
    // vocabulary branch.
    "tx1_token_stats", "tx2_quality_score", "tx3_language_id",
    "tx4_top_bigrams", "tx5_regex_tokens", "tx7_charngram_langid",
    "tx10_bigram_crossent",
    "hh1_heavy_hitters",
    // pipeline: quality/token-count/shingle stages
    // pp11 left this list in r16: its chunk stream is lazily pinned once,
    // so its text scan is checked through the pin by the pp11 test below
    "pp1_clean_corpus", "pp3_chunk_documents", "pp4_pack_sequences",
    "pp5_outlier_filter", "pp8_repetition_filter",
    "pp10_curriculum_shards", "bf1_bloom_decontaminate",
    // multimodal: text bytes are the deterministic payload substrate
    "mm1_media_features", "mm2_frame_sample", "mm3_binary_dedup",
    "mm4_media_neardup", "mm5_resize_audit")

  /** One planning pass over every non-eager registered query, shared by
    * the text-pruning ratchet and the determinism ratchet below (planning
    * 126 queries costs ~a minute; doing it twice would be pure waste). */
  private lazy val visiblePlans: Seq[(String, SparkPlan)] = Registry.all
    .filterNot(r => eagerConstruction.contains(r.name))
    .map(r => r.name -> r.fn(spark, sf).queryExecution.executedPlan)

  test("only allowlisted queries read documents.text at the scan") {
    val offenders = visiblePlans
      .flatMap { case (name, plan) =>
        val reads = scans(plan)
          .filter(_.relation.location.rootPaths.exists(_.toString.contains("documents")))
          .exists(_.requiredSchema.fieldNames.contains("text"))
        if (reads) Seq(name) else Nil
      }.toSet
    val unexpected = offenders -- textReaders
    val stale = textReaders -- offenders
    assert(unexpected.isEmpty,
      s"queries newly reading documents.text at the scan: ${unexpected.toSeq.sorted.mkString(", ")} — " +
        "prune the column or allowlist with justification")
    assert(stale.isEmpty,
      s"allowlist entries that no longer read text (tighten the list): ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("pp11's pinned chunk relation is (doc_id, chunk_fp) and its pre-pin scan reads doc_id, text") {
    // The lazy pin hides pp11's documents scan behind a LogicalRDD, so the
    // ratchet above cannot see it. The pinned RDD's (unmaterialized)
    // lineage is the pre-pin plan's executed form: walk it to the scan.
    def fileScans(rdd: RDD[_]): Seq[FileScanRDD] = rdd match {
      case f: FileScanRDD => Seq(f)
      case r => r.dependencies.flatMap(d => fileScans(d.rdd))
    }
    val pinned = Registry.queries("pp11_boilerplate")(spark, sf).queryExecution.optimizedPlan
      .collect { case r: LogicalRDD => r }
    assert(pinned.nonEmpty && pinned.forall(_.output.map(_.name) == Seq("doc_id", "chunk_fp")),
      s"pp11's pinned relations: ${pinned.map(_.output)}")
    val reads = pinned.map(_.rdd).distinct.flatMap(fileScans)
    assert(reads.map(_.readSchema.fieldNames.toSeq) == Seq(Seq("doc_id", "text")))
    assert(reads.head.filePartitions.flatMap(_.files).forall(_.filePath.toString.contains("documents")))
  }

  test("no registered visible plan contains a nondeterministic expression") {
    // Retry/speculation safety at cluster scale: a task can run TWICE
    // (failure retry, speculative attempt) and rand()/uuid()/
    // monotonically_increasing_id()/input_file_name()/spark_partition_id()
    // make the attempts disagree — a wrong-results class invisible to
    // single-run oracles (each attempt alone looks fine). The registry
    // derives identity/membership from content hashes everywhere, so the
    // contract is hard-zero. The one internal spark_partition_id
    // (Prefix.rankedIds) is severed behind a localCheckpoint — one
    // materialization, blocks reused not recomputed — and so never appears
    // in a visible plan. Eager-construction rows are excluded here like
    // everywhere else (plan build runs jobs); the per-round PLANAUDIT
    // artifact sweeps ALL 134 including their materialized tails.
    val dirty = visiblePlans
      .map { case (name, plan) => name -> graft.tools.PlanAudit.nondeterministicExprs(plan) }
      .filter(_._2.nonEmpty)
    assert(dirty.isEmpty,
      "nondeterministic expressions in visible plans (two task attempts " +
        s"would disagree): ${dirty.map { case (n, m) => s"$n -> $m" }.mkString("; ")}")
  }

  // ---- events.ts predicate pushdown, per parquet encoding generation ----
  //
  // The testdata's timestamp annotation has drifted across driver
  // regenerations (TIMESTAMP(NANOS); unannotated MICROS read as NTZ;
  // UTC-adjusted MICROS). Tables.ensureNanosReadable +
  // normalizeTimestamps absorb all three for CORRECTNESS; these cases pin
  // what each generation can PUSH into the scan, so a regeneration cannot
  // silently turn every event query into a full scan.

  private def pushedFor(dir: String): String = {
    import org.apache.spark.sql.functions.{col, lit}
    val df = Tables(spark, dir, "events")
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-06-01 00:00:00")))
    scans(df.queryExecution.executedPlan)
      .map(_.metadata.getOrElse("PushedFilters", "")).mkString(";")
  }

  test("events.ts pushdown per synthesized micros generation") {
    import org.apache.spark.sql.functions.col
    val src = Tables(spark, sf, "events")
    // UTC-adjusted MICROS (Spark's own write default): comparison pushes
    Scratch.withTree("gen_utc") { tree =>
      val utcDir = tree.getPath
      src.write.mode("overwrite").parquet(s"$utcDir/events.parquet")
      val utcPushed = pushedFor(utcDir)
      assert(utcPushed.contains("GreaterThanOrEqual(ts"),
        s"utc-micros generation lost ts predicate pushdown; PushedFilters=[$utcPushed]")
    }
    // Spark-WRITTEN NTZ: the footer's Spark schema metadata types the
    // column TIMESTAMP_NTZ regardless of the inference conf, so the read
    // takes normalizeTimestamps' rewrite and a ts comparison structurally
    // CANNOT reach the scan — pin that the scan still pushes IsNotNull
    // (i.e. is not fully opaque), documenting the known cost of this
    // encoding. (The driver's pyarrow-written unannotated files carry no
    // such metadata; they are the current-generation case below.)
    Scratch.withTree("gen_ntz") { tree =>
      val ntzDir = tree.getPath
      src.withColumn("ts", col("ts").cast("timestamp_ntz"))
        .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
      val ntzPushed = pushedFor(ntzDir)
      assert(ntzPushed.contains("IsNotNull(ts)"),
        s"spark-ntz generation: scan went fully opaque; PushedFilters=[$ntzPushed]")
    }
  }

  test("current testdata generation: ts pushes where its encoding allows") {
    import org.apache.spark.sql.functions.col
    Tables.ensureNanosReadable(spark)
    val rawTs = spark.read.parquet(s"$sf/events.parquet").schema("ts").dataType
    if (rawTs == org.apache.spark.sql.types.LongType) {
      // NANOS generation: ts is rebuilt from a long, so a timestamp
      // comparison structurally cannot reach the scan — pin that the scan
      // is not fully opaque (sibling long/id predicates still push)
      val p = scans(Tables(spark, sf, "events").filter(col("user_id") < 10)
        .queryExecution.executedPlan)
        .map(_.metadata.getOrElse("PushedFilters", "")).mkString(";")
      assert(p.contains("LessThan(user_id,10)"),
        s"nanos generation: sibling predicate no longer pushes; PushedFilters=[$p]")
    } else {
      val pushed = pushedFor(sf)
      assert(pushed.contains("GreaterThanOrEqual(ts"),
        s"micros generation lost ts predicate pushdown; PushedFilters=[$pushed]")
    }
  }
}
