package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built: each entry point states
  * only what it sets differently, and [[confs]] adds what every session
  * shares (UTC session time zone, UI off). `confs` is pure over the
  * environment, so SessionPolicySpec pins each caller's whole conf set —
  * Bench's is fixed so its timings compare across rounds — without
  * starting Spark.
  *
  * @param passthrough honour `SPARK_GRAFT_CONF_<spark.conf.key>=<value>`
  *   env vars verbatim: context-start confs a tier needs (e.g.
  *   `env 'SPARK_GRAFT_CONF_spark.memory.fraction=0.15'` for the spill
  *   tier) without a bespoke flag per conf. Applied LAST, so an explicitly
  *   set env var always wins: the config-robustness tiers re-run the
  *   registry under another shuffle-partition count / AQE off / broadcasts
  *   disabled and require hash-identical results.
  */
final case class SessionPolicy(
    master: String,
    partitions: String,
    extra: Seq[(String, String)] = Nil,
    passthrough: Boolean = false,
    logLevel: String = "WARN") {

  /** Every conf but the master. A `local-cluster` master forks executor
    * JVMs, which load the library from `spark.executor.extraClassPath`
    * (`SPARK_GRAFT_EXEC_CLASSPATH`, default this build's class dir). */
  def confs(env: Map[String, String]): Map[String, String] = {
    val shared = Seq(
      "spark.sql.shuffle.partitions" -> partitions,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val classPath =
      if (!master.startsWith("local-cluster")) Nil
      else Seq("spark.executor.extraClassPath" -> env.getOrElse("SPARK_GRAFT_EXEC_CLASSPATH",
        new java.io.File("target/scala-2.13/classes").getAbsolutePath))
    val overrides =
      if (!passthrough) Nil
      else env.toSeq.collect { case (k, v) if k.startsWith("SPARK_GRAFT_CONF_") =>
        k.stripPrefix("SPARK_GRAFT_CONF_") -> v
      }
    (shared ++ extra ++ classPath ++ overrides).toMap
  }

  def build(): SparkSession = {
    val spark = confs(sys.env)
      .foldLeft(SparkSession.builder().master(master)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
