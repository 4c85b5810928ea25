package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkException
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.parquetSchema` types a parquet table from one driver-side footer
  * read. A reader given that schema must see exactly the table Spark's own
  * inference would have typed — field names, types, nullability and field
  * metadata, partition columns included — for every layout graft opens.
  * The inferred side runs on a child session holding the two conversion
  * confs the footer schema is converted under, so the shared session is
  * left as it was. */
class ParquetSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf
  private val confs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  private lazy val inferring: SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** The footer-typed read of `path` against Spark's inferred read of it. */
  private def assertInferred(path: String): StructType = {
    val footer = Tables.parquetSchema(spark, path)._1
    val read = spark.read.schema(footer).parquet(path).schema
    val inferred = inferring.read.parquet(path).schema
    assert(read == inferred, s"$path:\n footer   $read\n inferred $inferred")
    assert(read.map(_.metadata) == inferred.map(_.metadata), path)
    footer
  }

  /** The result of `sql` written to `path` by a child session holding
    * `settings`. */
  private def write(sql: String, path: String, settings: (String, String)*): Unit = {
    val s = spark.newSession()
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    s.sql(sql).write.parquet(path)
  }

  test("every table of sf0.001 and sf0.01 types as Spark infers it") {
    for (dir <- Seq(sf, new java.io.File(sf).getParent + "/sf0.01"); t <- Tables.names)
      assertInferred(s"$dir/$t.parquet")
  }

  test("a 32-file table directory and a key=value partitioned directory type as Spark infers them") {
    Scratch.withTree("graft-schema-dirs") { tree =>
      val events = Tables(spark, sf, "events")
      events.repartition(32).write.parquet(s"$tree/events.parquet")
      assert(new java.io.File(s"$tree/events.parquet").list().count(_.startsWith("part-")) == 32)
      assertInferred(s"$tree/events.parquet")
      events.write.partitionBy("event_type").parquet(s"$tree/events_part")
      val footer = assertInferred(s"$tree/events_part")
      // the footer holds the data columns; partition discovery adds the rest
      assert(!footer.fieldNames.contains("event_type"))
      assert(Tables.read(spark, "parquet", s"$tree/events_part").columns.last == "event_type")
    }
  }

  test("Spark-written timestamps in each encoding type as Spark infers them") {
    Scratch.withTree("graft-schema-ts") { tree =>
      val ts = "SELECT 1L AS id, TIMESTAMP '2024-06-01 12:34:56.789' AS ts"
      write(ts, s"$tree/int96.parquet")
      write(ts, s"$tree/micros.parquet", "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
      write(ts.replace("TIMESTAMP", "TIMESTAMP_NTZ"), s"$tree/ntz.parquet")
      assert(assertInferred(s"$tree/int96.parquet")("ts").dataType == TimestampType)
      assert(assertInferred(s"$tree/micros.parquet")("ts").dataType == TimestampType)
      assert(assertInferred(s"$tree/ntz.parquet")("ts").dataType == TimestampNTZType)
    }
  }

  test("a TIMESTAMP(NANOS) column types as a long and is named in the nanos set") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    Scratch.withTree("graft-schema-nanos") { tree =>
      val schema = Types.buildMessage()
        .optional(INT64).named("id")
        .optional(INT64).as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.NANOS)).named("at")
        .named("t")
      val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$tree/t.parquet"), spark.sparkContext.hadoopConfiguration))
        .withType(schema).build()
      try writer.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L).append("at", 5L))
      finally writer.close()
      assertInferred(s"$tree/t.parquet")
      assert(Tables.parquetSchema(spark, s"$tree/t.parquet") ==
        (StructType(Seq(StructField("id", LongType), StructField("at", LongType))), Set("at")))
    }
  }

  test("_common_metadata, then _metadata, types a directory before its data files") {
    Scratch.withTree("graft-schema-summary") { tree =>
      val dir = s"$tree/t.parquet"
      write("SELECT 1L AS a", dir)
      write("SELECT 1L AS a, 'x' AS meta", s"$tree/meta")
      write("SELECT 1L AS a, 'x' AS common", s"$tree/common")
      def partFile(d: String) =
        Paths.get(d).toFile.listFiles().filter(_.getName.startsWith("part-")).head.toPath
      Files.copy(partFile(s"$tree/meta"), Paths.get(dir, "_metadata"))
      assert(assertInferred(dir).fieldNames.toSeq == Seq("a", "meta"))
      Files.copy(partFile(s"$tree/common"), Paths.get(dir, "_common_metadata"))
      assert(assertInferred(dir).fieldNames.toSeq == Seq("a", "common"))
    }
  }

  test("a corrupt footer and a directory without data fail with Spark's own errors") {
    Scratch.withTree("graft-schema-errors") { tree =>
      Files.write(Paths.get(s"$tree/junk.parquet"), "this is not a parquet file".getBytes("UTF-8"))
      val corrupt = intercept[SparkException](Tables.parquetSchema(spark, s"$tree/junk.parquet"))
      assert(corrupt.getCondition == "FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER", corrupt.getMessage)
      assert(corrupt.getMessage.contains("junk.parquet"), corrupt.getMessage)
      Files.createDirectories(Paths.get(s"$tree/empty.parquet"))
      Files.write(Paths.get(s"$tree/empty.parquet/_SUCCESS"), Array.emptyByteArray)
      val empty = intercept[AnalysisException](Tables.parquetSchema(spark, s"$tree/empty.parquet"))
      val inferred = intercept[AnalysisException](inferring.read.parquet(s"$tree/empty.parquet"))
      assert(empty.getCondition == "UNABLE_TO_INFER_SCHEMA" && empty.getMessage == inferred.getMessage,
        empty.getMessage)
      val missing = intercept[AnalysisException](Tables.parquetSchema(spark, s"$tree/none.parquet"))
      assert(missing.getCondition == "PATH_NOT_FOUND", missing.getMessage)
    }
  }
}
