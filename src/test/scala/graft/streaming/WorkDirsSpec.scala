package graft.streaming

import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir

/** Pins the injectable-scratch-base contract cdc_pipeline_e2e and the
  * bench stream rely on: session-conf override wins, every allocation is
  * unique (bench trials must never share a checkpoint), and the returned
  * path is qualified + created on the resolved filesystem.
  */
class WorkDirsSpec extends GraftSpecBase {

  test("default base is java.io.tmpdir; allocations are unique and created") {
    val a = WorkDirs.fresh(spark, "wd-test")
    val b = WorkDirs.fresh(spark, "wd-test")
    assert(a !== b)
    val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")
    assert(a.contains(tmp))
    assert(new java.io.File(new java.net.URI(a)).isDirectory)
  }

  test("fresh and staged dirs are registered for deletion when the FileSystem closes") {
    val fixture = tmpDir("wd-flat")
    spark.range(3).write.parquet(s"$fixture/t.parquet")
    for (d <- Seq(WorkDirs.fresh(spark, "wd-exit"), WorkDirs.stageRawTable(spark, fixture, "t", "wd-exit"))) {
      val p  = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // cancelDeleteOnExit reports whether the path was registered
      assert(fs.cancelDeleteOnExit(p), d)
      fs.deleteOnExit(p)
    }
  }

  test("spark.graft.stream.workdir conf overrides the base") {
    val base = tmpDir("wd-base")
    spark.conf.set("spark.graft.stream.workdir", base)
    try {
      val d = WorkDirs.fresh(spark, "conf-scoped")
      assert(d.contains(base))
      assert(new java.io.File(new java.net.URI(d)).isDirectory)
    } finally spark.conf.unset("spark.graft.stream.workdir")
  }

  test("stageRawTable rejects a hive-partitioned table instead of staging part of it") {
    import spark.implicits._
    val fixture = tmpDir("wd-partitioned")
    Seq((1L, "a"), (2L, "b")).toDF("id", "part")
      .write.partitionBy("part").parquet(s"$fixture/t.parquet")
    val e = intercept[IllegalArgumentException](WorkDirs.stageRawTable(spark, fixture, "t", "wd-stage"))
    assert(e.getMessage.contains("subdirectories"))
  }

  test("stageRawTable rejects a table directory with no parquet file") {
    val fixture = tmpDir("wd-empty")
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(fixture, "t.parquet"))
    val e = intercept[IllegalArgumentException](WorkDirs.stageRawTable(spark, fixture, "t", "wd-stage"))
    assert(e.getMessage.contains("no *.parquet file"))
  }
}
