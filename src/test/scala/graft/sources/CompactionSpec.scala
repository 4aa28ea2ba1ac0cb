package graft.sources


import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir

class CompactionSpec extends GraftSpecBase {

  test("compaction collapses a small-file tail into few healthy files") {
    val fragged = tmpDir("frag")
    val out     = tmpDir("compact")
    val ev      = graft.Tables.events(spark, sf())
    ev.repartition(16).write.mode("overwrite").parquet(fragged)

    val before = new java.io.File(fragged).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before === 16)

    val n = Compaction.compact(spark.read.parquet(fragged), out, targetBytes = 4L * 1024 * 1024)
    val after = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after < before, s"expected fewer files, got $after")
    assert(spark.read.parquet(out).count() === n)
    assert(n === ev.count())
  }
}
