package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds an N×-sf0.1 stress corpus under /tmp/stress by replicating each
  * table with shifted keys (join consistency preserved: every *N+k key
  * maps across fact/dim tables). Documents/embeddings replicate content
  * verbatim — deliberately creating true duplicate clusters to stress the
  * dedup operators' skew handling.
  * Usage: runMain graft.tools.MakeStress [src] [out] [factor]
  * (defaults: /root/testdata/sf0.1 /tmp/stress 10; the r09 100× probe
  * runs `MakeStress /root/testdata/sf0.1 /tmp/stress100 100` → 60 M
  * lineitem / 500 k documents / 10 M events). */
object MakeStress {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/stress"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.SessionPolicy("local[32]", "32").build()

    val k = explode(array((0 until factor).map(lit): _*)).as("k")
    def shifted(name: String, keys: String*): DataFrame = {
      val df = graft.Tables(spark, src, name).withColumn("k", k)
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) * factor + col("k"))).drop("k")
    }

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> graft.Tables(spark, src, "region"),
      "nation" -> graft.Tables(spark, src, "nation"),
      "customer" -> shifted("customer", "c_custkey"),
      "supplier" -> shifted("supplier", "s_suppkey"),
      "part" -> shifted("part", "p_partkey"),
      "orders" -> shifted("orders", "o_orderkey", "o_custkey"),
      "lineitem" -> shifted("lineitem", "l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> shifted("events", "event_id"),
      "documents" -> shifted("documents", "doc_id"),
      "embeddings" -> shifted("embeddings", "vec_id"))
    tables.foreach { case (name, df) =>
      // 32-way layout: the driver's fixtures are single one-row-group
      // files, so every scan stage reads on ONE task regardless of
      // maxPartitionBytes (parquet can't split inside a row group) and
      // the narrow heavy projections (md5 family, shingles, signatures)
      // serialize. The stress corpus exists to measure the engine's
      // at-scale behavior, and at scale tables have thousands of row
      // groups — write it the way a real corpus lands. Same rows, same
      // results; only the file layout (and scan parallelism) changes.
      val partitioned = if (name == "region" || name == "nation") df else df.repartition(32)
      partitioned.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    spark.stop()
  }
}
