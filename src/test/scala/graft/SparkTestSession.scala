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
}
