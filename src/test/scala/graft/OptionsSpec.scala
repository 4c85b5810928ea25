package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Spark-free pins on the settings the program reads from its
  * environment: the one `SPARK_GRAFT_ONLY` rule Verify and Bench share,
  * and the fixed set of env/property names read under `src/main`, so a new
  * knob is a deliberate edit of this spec. */
class OptionsSpec extends AnyFunSuite {

  private val names = Registry.all.map(_.name)
  private def selected(only: String): Seq[String] =
    names.filter(Registry.selects(Some(only))).map(_.takeWhile(_ != '_')).sorted

  test("SPARK_GRAFT_ONLY selects rows by trimmed name prefixes") {
    assert(selected("st") == (1 to 8).map(i => s"st$i"))
    assert(selected("q48, tx6") == Seq("q48", "tx6"))
    assert(selected(" st2 ,") == Seq("st2"))
    // unset or blank selects the whole registry
    assert(names.filter(Registry.selects(None)) == names)
    assert(names.filter(Registry.selects(Some(" , "))) == names)
  }

  test("src/main reads exactly the twelve known env/property names") {
    val literal = """"(SPARK_[A-Z0-9_]+|graft\.[a-z][a-zA-Z]*")""".r
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val read = sources.flatMap { (f: Path) =>
      literal.findAllMatchIn(Files.readString(f)).map(_.group(1).stripSuffix("\""))
    }.toSet
    assert(sources.nonEmpty)
    assert(read == Set(
      "SPARK_GRAFT_CHAOS", "SPARK_GRAFT_CONF_", "SPARK_GRAFT_CPUS",
      "SPARK_GRAFT_EXEC_CLASSPATH", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_ONLY",
      "SPARK_GRAFT_REF_SCALE", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SPEC_REPORT",
      "SPARK_GRAFT_SPILL_REPORT", "SPARK_GRAFT_ST_CHAOS", "graft.reliableCkpt"))
  }
}
