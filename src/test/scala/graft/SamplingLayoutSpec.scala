package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Layout, Pipeline, Sampling}

/** Round-4 operator families: deterministic sampling, Z-order layout,
  * recursive streaks, and the Bloom-prefiltered decontamination path. */
class SamplingLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf

  test("sm2: exactly min(k, stratum size) rows per language, invariant to partitioning") {
    val docs = Tables(spark, sf, "documents")
    val strata = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sample = Sampling.fixedSizePerStratum(spark, sf, k = 25)
    val got = sample.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == strata.keySet)
    got.foreach { case (lang, n) => assert(n == math.min(25L, strata(lang))) }
    // same rows regardless of physical partitioning (hash order is content-only)
    val again = Sampling.fixedSizePerStratum(spark, sf, k = 25)
      .repartition(7).orderBy("lang", "rk").collect().toSeq
    assert(sample.orderBy("lang", "rk").collect().toSeq == again)
  }

  test("sm3: per-language output mass hits round(N*sqrt-weight) exactly, multiplicity spread <= 1") {
    val docs = Tables(spark, sf, "documents")
    val strata = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = strata.values.sum
    val z = strata.values.map(v => BigDecimal(math.sqrt(v.toDouble))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum
    val out = Sampling.temperatureResample(spark, sf)
    val mass = out.groupBy("lang").agg(org.apache.spark.sql.functions.sum("n_copies").as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    strata.foreach { case (lang, nl) =>
      // same operation order as the operator: decimal→double, THEN divide
      val q = BigDecimal(math.sqrt(nl.toDouble))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble / z.toDouble
      val ml = math.round(n.toDouble * q)
      assert(mass.getOrElse(lang, 0L) == ml, s"$lang mass ${mass.get(lang)} != target $ml")
    }
    // within a language every doc's multiplicity is floor or floor+1
    val spread = out.groupBy("lang")
      .agg((org.apache.spark.sql.functions.max("n_copies") -
        org.apache.spark.sql.functions.min("n_copies")).as("d"))
      .collect().map(_.getAs[Long]("d"))
    assert(spread.forall(_ <= 1))
    // low-resource languages are upsampled relative to the head
    val ratios = strata.keys.map(l => l -> mass(l).toDouble / strata(l)).toMap
    val minLang = strata.minBy(_._2)._1
    val maxLang = strata.maxBy(_._2)._1
    assert(ratios(minLang) > ratios(maxLang))
  }

  test("sm1: stratified rates keep all English and a strict subset elsewhere") {
    val docs = Tables(spark, sf, "documents")
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Sampling.stratifiedSample(spark, sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("en") == byLang("en"))
    (byLang.keySet - "en").foreach { lang =>
      assert(kept.getOrElse(lang, 0L) < byLang(lang), s"$lang should be downsampled")
    }
  }

  test("zValue is the Morton interleave (x even bits, y odd bits)") {
    val row = spark.range(1).select(
      Layout.zValue(lit(3L), lit(5L)).as("a"),        // 0b11 ⊗ 0b101 = 39
      Layout.zValue(lit(0xFFFFL), lit(0L)).as("b"),   // all even bits
      Layout.zValue(lit(0L), lit(0xFFFFL)).as("c"),   // all odd bits
      Layout.zValue(lit(0xFFFFL), lit(0xFFFFL)).as("d")).head()
    assert(row.getLong(0) == 39L)
    assert(row.getLong(1) == 0x55555555L)
    assert(row.getLong(2) == 0xAAAAAAAAL)
    assert(row.getLong(3) == 0xFFFFFFFFL)
  }

  test("ly1: every z-bucket bounds both dimensions to a 2^11 tile") {
    // bucket = top 10 z bits = an aligned 2^22 z range = a 2048×2048 tile;
    // a broken spread would smear a bucket across the full 16-bit range
    val bad = Layout.zOrderStats(spark, sf)
      .filter(col("x_max") - col("x_min") >= 2048 || col("y_max") - col("y_min") >= 2048)
      .count()
    assert(bad == 0L)
  }

  test("bf1 bloom-prefiltered decontamination ≡ exact decontamination") {
    val exact = Pipeline.decontaminate(spark, sf).collect().toSeq
    val bloom = Pipeline.bloomDecontaminate(spark, sf).collect().toSeq
    assert(bloom == exact)
  }

  test("q42 recursive streaks ≡ independent window-only derivation") {
    import org.apache.spark.sql.expressions.Window
    val recursive = Registry.queries("q42_recursive_streaks")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val o = Tables(spark, sf, "orders").select(
      col("o_orderkey").as("k"), col("o_custkey").as("c"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
    val w = Window.partitionBy("c").orderBy("t", "k")
    val gap = lit(2592000000000L)
    val seeded = o
      .withColumn("pt", lag("t", 1).over(w))
      .withColumn("is_seed", (col("pt").isNull || col("t") - col("pt") > gap).cast("int"))
      .withColumn("streak", sum("is_seed").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val viaWindows = seeded.groupBy("c", "streak")
      .agg(min_by(col("k"), struct(col("t"), col("k"))).as("seed"),
        count(lit(1)).as("streak_len"))
      .select("c", "seed", "streak_len")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(recursive == viaWindows)
    assert(recursive.nonEmpty)
  }
}
