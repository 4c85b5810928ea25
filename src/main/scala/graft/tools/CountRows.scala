package graft.tools

/** Output-cardinality probe for scale tiers that carry no DuckDB oracle
  * (the 1000× probe): runs the selected registry queries and prints one
  * line per query, `[countrows] name,rows,seconds`.
  *
  * Row counts are the evidence the scaling-invariant table needs — for a
  * verbatim-replicated corpus (tools/MakeStress) the expected output
  * cardinality of each query family is a closed-form function of the
  * replication factor (linear for scans/aggs/windows, quadratic within
  * duplicate clusters for pair relations until the bucket cap converts
  * them to star-linear), so a count that deviates from the prediction is
  * a loud correctness signal at a scale where the full oracle compare is
  * infeasible. Seconds here are NOT comparable to Bench (count() lets
  * Catalyst prune the final projection; Bench's noop write executes every
  * column) — use Bench for cost. */
object CountRows {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CountRows <sfDir> <prefix,prefix,...>")
    val sfDir = args(0)
    val prefixes = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SessionPolicy(s"local[$cpus]", cpus).build()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(p => n.startsWith(p)) }
      .foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          val c = fn(spark, sfDir).count()
          println("[countrows] %s,%d,%.2f".formatLocal(java.util.Locale.ROOT,
            name, c, (System.nanoTime() - t0) / 1e9))
        } catch {
          case e: Throwable =>
            // sanitize: exception messages routinely carry commas/newlines,
            // which would break the one-line 3-field shape parsers rely on
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[,\\n\\r\\t]", " ").take(120)
            println(s"[countrows] $name,ERROR,$msg")
        }
      }
    spark.stop()
  }
}
