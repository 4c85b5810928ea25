package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole ScalaTest run (suites execute
  * sequentially in the forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = SessionPolicy("local[4]", "4", Seq(
    "spark.app.name" -> "graft-test",
    // context-start conf the reliable-checkpoint housekeeping contract
    // needs (CkptSpec): checkpoint files of GC'd RDDs are swept by the
    // ContextCleaner instead of accumulating one snapshot per pin
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")).build()

  /** Hermetic small corpus (read-only). */
  val sf: String = "/root/testdata/sf0.001"

  /** Registry rows whose fn runs eager jobs and returns a plan over the
    * materialized result; the plan-shape sweeps (ScanPruningSpec,
    * ShuffleBudgetSpec) skip them. */
  val eagerConstruction: Set[String] = Set(
    "ss4_ivf_kmeans", "ss6_pq_topk", "ss5_ivf_persisted",
    "bp1_bpe_merges", "bp2_bpe_encode", "dd8_dup_clusters", "gr1_neardup_pagerank",
    // st1's construction stages files and runs the whole ingest stream;
    // its returned plan is a plain scan+project+sort over the survivors
    "st1_stream_dedup_ingest")
}
