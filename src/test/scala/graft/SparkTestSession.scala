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

  /** How many RDDs `run` leaves persisted while its result is still held:
    * pins the call neither released nor hands to its result. A loop that
    * holds its superseded pins leaves more of them the more rounds it runs.
    * `use` materializes the result, and runs again after the count so the
    * result (and every pin it reads) stays reachable until then. */
  def heldPins[T](run: => T)(use: T => Unit): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = run
    use(out)
    val held = (sc.getPersistentRDDs.keySet -- before).size
    use(out)
    held
  }

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
