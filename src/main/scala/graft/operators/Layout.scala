package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multi-dimensional data-layout operators.
  *
  * At 100 TB the scan is the cost, and the scan is only cheap if file-level
  * min/max statistics prune it. Range-partitioning by ONE column makes that
  * column skippable but leaves every other predicate a full scan; a
  * Z-order (Morton) key interleaves the bits of several columns so that
  * sorting by the single z value co-locates rows that are close in EVERY
  * interleaved dimension — each written file then covers a small rectangle
  * of the (x, y) space and both `x` and `y` predicates prune files.
  *
  * The z computation itself is a pure narrow projection (codegen'd integer
  * bit-twiddling, no shuffle); a writer lays files out with one range
  * repartition on z — what a lakehouse OPTIMIZE ZORDER does. [[zOrderStats]]
  * PROVES the locality instead of asserting it: it groups by z-bucket and
  * reports each bucket's x/y bounding box, which is what the parquet
  * min/max footer would contain per file.
  */
object Layout {

  /** Spread the low 16 bits of `c` to the even bit positions of a 32-bit
    * value (classic Morton spread via parallel prefix masks). */
  private def spread16(c: Column): Column =
    Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
      .foldLeft(c.bitwiseAND(lit(0xFFFFL))) { case (acc, (sh, mask)) =>
        acc.bitwiseOR(shiftleft(acc, sh)).bitwiseAND(lit(mask))
      }

  /** 32-bit Morton key of two 16-bit dimensions. */
  def zValue(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Z-order layout of `orders` on (customer, price decile-ish bucket):
    * per-z-bucket row counts and per-dimension bounding boxes. Buckets are
    * the top 10 bits of z (1024 target files); tight per-bucket x/y ranges
    * are precisely the file-skipping guarantee. Dimensions are clamped into
    * 16 bits: x = custkey mod 65536 (id-space fold), y = totalprice / 16
    * (≈ price rank at this corpus's [0, ~600k] price range). */
  def zOrderStats(s: SparkSession, d: String): DataFrame = {
    val o = Tables(s, d, "orders")
      .select(
        col("o_orderkey"),
        pmod(col("o_custkey"), lit(65536L)).cast("long").as("x"),
        least(floor(col("o_totalprice") / 16.0), lit(65535L)).cast("long").as("y"))
      .withColumn("z", zValue(col("x"), col("y")))
      .withColumn("bucket", shiftright(col("z"), 22).cast("long"))
    o.groupBy("bucket")
      .agg(
        count(lit(1)).as("n_rows"),
        min("x").as("x_min"), max("x").as("x_max"),
        min("y").as("y_min"), max("y").as("y_max"))
      .orderBy("bucket")
  }
}
