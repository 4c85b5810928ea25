package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Member

/** The streaming rows' harness owns its tree: what a row's body returns is
  * pinned before the tree is deleted, so a body may return a lazy read of
  * its own files. */
class MemberSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a body's lazy read of its own tree still collects after the harness deletes the tree") {
    val before = Scratch.pendingAtExit
    var out: java.io.File = null
    val result = Member.run(spark, "member-spec") { m =>
      out = new java.io.File(m.path("out"))
      spark.range(0, 50).selectExpr("id", "id * 3 AS v").write.parquet(out.getPath)
      spark.read.parquet(out.getPath)
    }
    assert(!out.getParentFile.exists(), "the member's tree outlived the harness")
    assert(Scratch.pendingAtExit == before)
    assert(result.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      (0L until 50L).map(i => (i, i * 3)))
  }
}
