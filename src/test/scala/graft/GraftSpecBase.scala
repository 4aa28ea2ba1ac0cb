package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session — one SparkSession per JVM (suites share it via
  * getOrCreate), same configs as the production entry points.
  */
trait GraftSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession
    .builder("graft-test")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir", GraftSpecBase.warehouseDir)
    .getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Run `body` with Spark's RocksDB state store (changelog checkpointing,
    * memory bounded at 256 MB), restoring the previous values of these
    * confs afterwards. The provider is read at query start, so only queries
    * started inside `body` use RocksDB.
    */
  def withRocksDB[A](body: => A): A = {
    val conf = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage"             -> "true",
      "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB"               -> "256"
    )
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

object GraftSpecBase {

  private val scratch = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
  sys.addShutdownHook(scratch.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)))

  /** A fresh directory under `java.io.tmpdir` whose name starts with
    * `prefix`. Deleted, contents and all, at JVM exit.
    */
  def tmpDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    scratch.add(dir)
    dir.toString
  }

  /** The test JVM's one warehouse dir. Suites share one session, and
    * `spark.sql.warehouse.dir` is static: only the first `getOrCreate`
    * reads it.
    */
  lazy val warehouseDir: String = tmpDir("graft-warehouse")
}
