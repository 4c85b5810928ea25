package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, desc}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.Sinks

/** Property: df → sink → read ≡ identity, for rows shaped like the
  * reference's only fixture (`Payment`, reference src/db/mysql.rs:125-144:
  * two ints + a ~50%-null string — nullable strings being the reference's
  * main edge case). Generators are ScalaCheck with fixed seeds (the
  * scalatest-scalacheck bridge isn't in the offline cache).
  */
class SinkRoundTripSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("customer_id", IntegerType, nullable = true),
    StructField("amount", IntegerType, nullable = true),
    StructField("account_name", StringType, nullable = true)))

  private val paymentGen: Gen[Row] = for {
    cid <- Gen.choose(1, 1000)
    amount <- Gen.choose(10, 1000)
    // mixed-script names exercise sink/reader encoding (UTF-8 end-to-end);
    // commas and double quotes exercise the CSV writer's quoting/escaping
    // (the one sink format where field content can collide with syntax —
    // embedded newlines are deliberately excluded: round-tripping them
    // needs the reader's multiLine mode, a documented CSV property, not a
    // sink behavior)
    prefix <- Gen.oneOf("Account", "Конто", "口座", "Compte é",
      "Quote \" mid", "comma, inc.", "\"leading", "trail\\esc")
    name <- Gen.option(Gen.choose(1, 100).map(i => s"$prefix $i"))
  } yield Row(cid, amount, name.orNull)

  private def sample(seed: Long, n: Int = 20): List[Row] =
    Gen.listOfN(n, paymentGen)
      .pureApply(Gen.Parameters.default, Seed(seed))

  private def df(rows: List[Row], session: SparkSession = spark) =
    session.createDataFrame(session.sparkContext.parallelize(rows, 2), schema)

  private def roundTrip(rows: List[Row], ext: String): Seq[String] =
    Scratch.withTree("graft-prop") { tree =>
      val out = new java.io.File(tree, s"rt.$ext").getPath
      Sinks.writeSingleFile(df(rows), out)
      val reader = ext match {
        case "csv"  => spark.read.schema(schema).option("header", "true").csv(out)
        case "json" => spark.read.schema(schema).json(out)
        case _      => spark.read.parquet(out)
      }
      reader.collect().map(_.toString).sorted.toSeq
    }

  test("parquet/json/csv sinks round-trip payment-shaped data") {
    Seq(42L, 7L, 20260812L).foreach { seed =>
      val rows = sample(seed)
      val expect = rows.map(_.toString).sorted
      assert(roundTrip(rows, "parquet") == expect, s"parquet seed=$seed")
      assert(roundTrip(rows, "json") == expect, s"json seed=$seed")
      assert(roundTrip(rows, "csv") == expect, s"csv seed=$seed")
    }
  }

  test("dynamic partition overwrite replaces only the rewritten partitions") {
    // the incremental-pipeline staple at scale: re-running one slice
    // (one day, one source) must replace exactly that partition's files
    // and leave every other partition untouched — static overwrite mode
    // (Spark's default) would clobber the whole table root
    Scratch.withTree("graft-dynpart") { tree =>
      val dir = new java.io.File(tree, "events").getPath
      val s = spark.newSession()
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val events = Tables(s, SparkTestSession.sf, "events")
      graft.sinks.Sinks.writeDir(events, dir, graft.sinks.Sinks.Parquet,
        partitionBy = Seq("event_type"))
      val before = s.read.parquet(dir)
      val nOther = before.filter(org.apache.spark.sql.functions.col("event_type") =!= "purchase").count()
      // rewrite ONLY the purchase slice, halved — a re-run with different content
      val rerun = events
        .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
        .filter(org.apache.spark.sql.functions.col("event_id") % 2 === 0)
      rerun.write.mode("overwrite").partitionBy("event_type").parquet(dir)
      val after = s.read.parquet(dir)
      assert(after.filter(org.apache.spark.sql.functions.col("event_type") === "purchase").count()
        == rerun.count(), "rewritten partition must hold exactly the re-run's rows")
      assert(after.filter(org.apache.spark.sql.functions.col("event_type") =!= "purchase").count()
        == nOther, "untouched partitions must survive the overwrite")
    }
  }

  test("compaction rewrites a many-small-file dir into few equal files, data intact") {
    Scratch.withTree("graft-compact") { tree =>
      val dir = new java.io.File(tree, "docs").getPath
      val docs = Tables(spark, SparkTestSession.sf, "documents")
      docs.repartition(16).write.parquet(dir)
      def parts = Option(new java.io.File(dir).listFiles()).get
        .filter(f => f.isFile && f.getName.startsWith("part-")).toSeq
      assert(parts.size == 16)
      val totalBytes = parts.map(_.length()).sum
      val before = docs.orderBy("doc_id").collect().toSeq
      // target ~quarter of the data per file => expect ceil(total/target) files
      val target = math.max(totalBytes / 4, 1L)
      val expectFiles = math.ceil(totalBytes.toDouble / target).toInt
      val n = Sinks.compactDir(spark.read.parquet(dir), dir, target)
      assert(n == expectFiles && parts.size == n, s"got $n files, disk ${parts.size}")
      val after = spark.read.parquet(dir).orderBy("doc_id").collect().toSeq
      assert(after == before)
    }
  }

  // --- writeSingleFile against Spark's own writer, file for file ---

  /** The payment rows with a decimal and a timestamp column, both null
    * wherever the name is. */
  private def payments(rows: DataFrame): DataFrame = rows.selectExpr(
    "customer_id", "amount",
    "IF(account_name IS NULL, NULL, CAST(amount AS DECIMAL(12, 2)) / 100) AS amount_dec",
    "IF(account_name IS NULL, NULL, timestamp_seconds(1700000000 + customer_id * 3607)) AS paid_at",
    "account_name")

  /** `df`'s file from `writeSingleFile` and the lone part-file Spark's own
    * `coalesce(1).write` writes with the same format and options. */
  private def bothWriters(df: DataFrame, ext: String): (Array[Byte], Array[Byte]) =
    Scratch.withTree("graft-single") { tree =>
      val out = new File(tree, s"out.$ext")
      Sinks.writeSingleFile(df, out.getPath)
      val format = Sinks.fromPath(out.getPath)
      val dir = new File(tree, "spark")
      df.coalesce(1).write.format(format.name).options(format.options).save(dir.getPath)
      val parts = dir.listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.length == 1, parts.toSeq)
      (Files.readAllBytes(out.toPath), Files.readAllBytes(parts.head.toPath))
    }

  /** Every sink writes the bytes Spark's writer writes; text gets the one
    * string column its format holds. */
  private def assertSameFiles(df: DataFrame, what: String): Unit =
    Seq("parquet", "csv", "json", "orc", "txt").foreach { ext =>
      val (ours, sparks) = bothWriters(if (ext == "txt") df.select("account_name") else df, ext)
      assert(ours.sameElements(sparks), s"$what .$ext: ${ours.length} vs ${sparks.length} bytes")
    }

  test("writeSingleFile writes Spark's own bytes: payment rows with nulls, decimals and timestamps") {
    Seq(42L, 7L).foreach(seed => assertSameFiles(payments(df(sample(seed))), s"seed=$seed"))
  }

  test("writeSingleFile writes Spark's own bytes for a zero-row result") {
    assertSameFiles(payments(df(sample(42))).filter("customer_id < 0"), "zero rows")
  }

  test("writeSingleFile writes Spark's own bytes for an ordered result of many partitions") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "13")
    val sorted = payments(df(sample(20260812L, 200), s))
      .orderBy(desc("amount"), col("customer_id"), col("account_name").asc_nulls_first)
    assert(sorted.queryExecution.executedPlan.execute().getNumPartitions > 1)
    assertSameFiles(sorted, "ordered")
  }
}
