package graft.tools

/** Times individual registered queries with the bench's noop-write action
  * (after one warm-up query) — the single-query iteration loop for perf
  * work. Each line also counts the NEW janino compilations the run
  * triggered, read by [[Compiles]] once the context is quiet, so a compile
  * lands on the row whose jobs made it. The CodeGenerator cache is keyed
  * on generated SOURCE, so an iterated stage with stable source compiles
  * once (r16: the PQ kernel's codebook rides an object literal in
  * ss4/ss6). Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.TimeQuery
  * name… prints `TIMEQ <name> <wall> s compiles=<n>` per query.
  *
  * Shuffle partitions default to the thread count (the bench's sf0.1
  * contract). The `SPARK_GRAFT_CONF_*` passthrough decouples them for
  * scale probes — `env 'SPARK_GRAFT_CONF_spark.sql.shuffle.partitions=N'`:
  * at 1000x data, partitions=cpus leaves ~19M rows per shuffle partition
  * and the sorts/aggs go spill-bound, while a cluster sizes partitions
  * with data (or lets AQE coalesce DOWN from a high initial count).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionPolicy(s"local[$cpus]", cpus, passthrough = true).build()
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      graft.Registry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // NonFatal only: a broken fixture dir / misconfigured session should
    // surface here, not silently proceed to timings of cold-start noise —
    // and OOM/fatal JVM errors must never be swallowed
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      run("q01_pricing_summary")
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[timeq] warm-up failed (timings may be cold): $e")
    }
    args.foreach { n =>
      val (wall, compiles) = Compiles.of(spark.sparkContext)(run(n))
      println("TIMEQ %s %.2f s compiles=%d".formatLocal(java.util.Locale.ROOT, n, wall, compiles))
    }
    spark.stop()
  }
}
