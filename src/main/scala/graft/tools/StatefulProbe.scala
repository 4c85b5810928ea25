package graft.tools

import org.apache.spark.sql.SparkSession

/** ONE tiny stateful AvailableNow query over synthesized input — the
  * shared probe shape used by Bench's streaming warm-up (loads the
  * micro-batch planner / state-store / offset-log classes once per JVM)
  * and ExecLossStTier's bogus-provider liveness check (RUNBOOK records the
  * r13 RocksDB sub-conf liveness finding made with it). Extracted r13
  * (review): three line-for-line copies had already drifted on temp-dir
  * cleanup, the exact hand-sync class the single-implementation rule
  * (ExecutorKill, ExecLossHarness) exists to prevent.
  *
  * Input is synthesized (`session.range`), so a failure here can never
  * mask an unreadable corpus dir; the temp tree is deleted on success AND
  * on failure (a bogus-conf probe is EXPECTED to throw — its staging must
  * not accumulate). State-store confs are read per-query from the
  * session's SQLConf, so callers probe a conf by setting it on a child
  * session and running this. The query starts through
  * [[graft.streaming.StreamingOps.runAvailableNow]], the start path of
  * every graft stream, so the probe warms and tests what the streams run. */
object StatefulProbe {

  def run(session: SparkSession): Unit = {
    import org.apache.spark.sql.functions.{col, window}
    graft.Scratch.withTree("graft-stateful-probe") { dir =>
      val in = new java.io.File(dir, "in")
      session.range(100)
        .selectExpr("id", "timestamp_micros(id * 1000000) AS ts")
        .write.parquet(in.getPath)
      graft.streaming.StreamingOps.runAvailableNow(session)(Seq(
        session.readStream.schema("id BIGINT, ts TIMESTAMP").parquet(in.getPath)
          .withWatermark("ts", "1 minute")
          .groupBy(window(col("ts"), "1 minute")).count()
          .writeStream.format("noop")
          .option("checkpointLocation", new java.io.File(dir, "ckpt").getPath)
          .outputMode("update")))
    }
  }
}
