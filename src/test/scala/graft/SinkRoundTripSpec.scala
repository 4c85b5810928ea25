package graft

import org.apache.spark.sql.Row
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

  private def sample(seed: Long): List[Row] =
    Gen.listOfN(20, paymentGen)
      .pureApply(Gen.Parameters.default, Seed(seed))

  private def df(rows: List[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

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
}
