package graft

/** CLI entry, mirroring the reference's clap interface
  * (reference src/main.rs:8-22: `-u/--url`, `-q/--query`, `-o/--output`).
  *
  * Example:
  * {{{
  *   graft.Main -u parquet:///root/testdata/sf0.001 \
  *     -q "SELECT l_returnflag, count(*) AS c FROM lineitem GROUP BY 1" \
  *     -o /tmp/out.csv
  * }}}
  *
  * The master is Spark's own `spark.master` (`spark-submit --master`, or
  * `-Dspark.master`), `local[32]` when unset.
  */
object Main {

  private[graft] def sessionPolicy(env: Map[String, String], props: Map[String, String]): SessionPolicy =
    SessionPolicy(props.getOrElse("spark.master", "local[32]"),
      env.getOrElse("SPARK_GRAFT_CPUS", "32"), Seq("spark.app.name" -> "graft"))

  private def parseArgs(args: Array[String]): Map[String, String] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case ("-u" | "--url") :: v :: t    => loop(t, acc + ("url" -> v))
      case ("-q" | "--query") :: v :: t  => loop(t, acc + ("query" -> v))
      case ("-o" | "--output") :: v :: t => loop(t, acc + ("output" -> v))
      case Nil                           => acc
      case other :: _ =>
        throw new IllegalArgumentException(s"Unrecognized argument: $other")
    }
    loop(args.toList, Map.empty)
  }

  def main(args: Array[String]): Unit = {
    val parsed = parseArgs(args)
    // -u is optional with an empty default, matching the reference's clap
    // config (reference src/main.rs:13); the empty URL then fails scheme
    // dispatch (reference src/lib.rs:64's error arm ≡ Source.fromUrl's),
    // so the error surfaces at connect time, not argument parsing.
    val url = parsed.getOrElse("url", "")
    val query = parsed.getOrElse("query",
      throw new IllegalArgumentException("missing required -q/--query"))
    val output = parsed.getOrElse("output",
      throw new IllegalArgumentException("missing required -o/--output"))

    val spark = sessionPolicy(sys.env, sys.props.toMap).build()
    try Engine.export(spark, url, query, output)
    finally spark.stop()
  }
}
