package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ExecLossHarness

/** Spark-free pins on the conf sets the entry points build through
  * [[SessionPolicy]]. Bench's set is fixed so its timings compare across
  * rounds: nothing a tier sets in the environment (passthrough entries, a
  * cluster master) reaches it. */
class SessionPolicySpec extends AnyFunSuite {
  private val shared = Map("spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> "false")
  private val tierEnv = Map(
    "SPARK_GRAFT_CPUS" -> "8",
    "SPARK_GRAFT_CONF_spark.sql.shuffle.partitions" -> "7",
    "SPARK_GRAFT_CONF_spark.memory.fraction" -> "0.15",
    "SPARK_GRAFT_EXEC_CLASSPATH" -> "/jars/graft")
  private val clusterEnv = tierEnv + ("SPARK_GRAFT_MASTER" -> "local-cluster[2,16,8192]")
  private val classPath = "spark.executor.extraClassPath"

  test("Bench: local[cpus], cpus shuffle partitions, UTC, UI off; tier env ignored") {
    val dflt = Bench.sessionPolicy(Map.empty)
    assert(dflt.master == "local[4]" && dflt.logLevel == "WARN")
    assert(dflt.confs(Map.empty) == shared + ("spark.sql.shuffle.partitions" -> "4"))
    val tier = Bench.sessionPolicy(clusterEnv)
    assert(tier.master == "local[8]")
    assert(tier.confs(clusterEnv) == shared + ("spark.sql.shuffle.partitions" -> "8"))
  }

  test("Main: spark.master (default local[32]), app name graft; tier env ignored") {
    val mainConfs = shared + ("spark.app.name" -> "graft")
    assert(Main.sessionPolicy(Map.empty, Map.empty).master == "local[32]")
    assert(Main.sessionPolicy(Map.empty, Map.empty).confs(Map.empty) ==
      mainConfs + ("spark.sql.shuffle.partitions" -> "32"))
    // the master spark-submit --master sets; the env name no longer counts
    assert(Main.sessionPolicy(Map("SPARK_MASTER" -> "local[3]"), Map.empty).master == "local[32]")
    val tier = Main.sessionPolicy(clusterEnv, Map("spark.master" -> "local[2]"))
    assert(tier.master == "local[2]")
    assert(tier.confs(clusterEnv) == mainConfs + ("spark.sql.shuffle.partitions" -> "8"))
  }

  test("SPARK_GRAFT_CONF_* overrides fixed confs for Verify and the exec-loss cluster session") {
    val overridden = shared ++ Map("spark.sql.shuffle.partitions" -> "7", "spark.memory.fraction" -> "0.15")
    val chaos = tierEnv + ("SPARK_GRAFT_CHAOS" -> "1")
    assert(Verify.sessionPolicy(chaos).master == "local[8,3]")
    assert(Verify.sessionPolicy(chaos).confs(chaos) == overridden + ("spark.task.maxFailures" -> "3"))
    val provider = "spark.sql.streaming.stateStore.providerClass" -> "rocksdb"
    val cluster = ExecLossHarness.clusterPolicy(Map(provider), tierEnv)
    assert(cluster.master == "local-cluster[2,16,8192]" && cluster.logLevel == "ERROR")
    assert(cluster.confs(tierEnv) == overridden ++ Map(provider, classPath -> "/jars/graft",
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true"))
  }

  test("spark.executor.extraClassPath is set only for local-cluster masters") {
    assert(!Verify.sessionPolicy(tierEnv).confs(tierEnv).contains(classPath))
    assert(Verify.sessionPolicy(clusterEnv).confs(clusterEnv).get(classPath).contains("/jars/graft"))
    val localEnv = Map("SPARK_GRAFT_MASTER" -> "local[4]")
    assert(!ExecLossHarness.clusterPolicy(Map.empty, localEnv).confs(localEnv).contains(classPath))
    assert(ExecLossHarness.clusterPolicy(Map.empty, Map.empty).confs(Map.empty)(classPath)
      .endsWith("target/scala-2.13/classes"))
  }
}
