package graft.streaming

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Working-directory allocation for streaming sources/sinks/checkpoints.
  *
  * Under local[N] a JVM temp dir is fine, but on a real cluster every
  * executor must see the stream's source, sink, and checkpoint paths — they
  * have to live on a shared filesystem. The base is therefore injectable:
  *
  *   1. `spark.graft.stream.workdir` (session conf — settable per job with
  *      `--conf`, e.g. an `hdfs://` or `s3a://` scratch prefix),
  *   2. `SPARK_GRAFT_STREAM_WORKDIR` (environment),
  *   3. `java.io.tmpdir` (the local[N] default — unchanged behavior).
  *
  * Paths are created through the Hadoop FileSystem resolved from the URI,
  * so a DFS base works identically to a local one. Each call returns a
  * fresh UUID-suffixed directory: repeated invocations of the same query
  * (bench trials) must never share a checkpoint, or the second run would
  * restore "nothing new to process" instead of re-running the pipeline.
  */
object WorkDirs {
  def base(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.stream.workdir")
      .orElse(sys.env.get("SPARK_GRAFT_STREAM_WORKDIR"))
      .getOrElse(System.getProperty("java.io.tmpdir"))
      .stripSuffix("/")

  /** Create and return `<base>/<label>-<uuid>` on whatever filesystem the
    * base resolves to. The directory is registered with the FileSystem's
    * `deleteOnExit`: it is removed, contents and all, when that FileSystem
    * closes — for the cached instance, at JVM exit.
    */
  def fresh(spark: SparkSession, label: String): String = {
    val dir  = new Path(s"${base(spark)}/$label-${UUID.randomUUID().toString.take(12)}")
    val fs   = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(dir)
    fs.mkdirs(qualified)
    fs.deleteOnExit(qualified)
    qualified.toString
  }

  /** Stage a fixture table's RAW parquet bytes into a fresh scratch dir
    * for a file stream source to watch (r16): the landing-zone copy a
    * real pipeline pays is a byte copy, not a Spark decode + re-encode
    * of the whole table — and the read-only fixture can ship as a single
    * FILE, which the file source cannot watch directly. Returns the
    * scratch dir. Any loader-side column adaptation (Tables.events' ts
    * normalization) must be applied INSIDE the stream by the caller.
    *
    * Only a flat table is supported: a directory with subdirectories (a
    * hive-partitioned layout) or with no top-level `*.parquet` file fails
    * loudly instead of streaming a partial or empty table.
    */
  def stageRawTable(spark: SparkSession, fixtureDir: String, table: String, label: String): String = {
    val dst  = fresh(spark, label)
    val conf = spark.sparkContext.hadoopConfiguration
    val from = new Path(s"$fixtureDir/$table.parquet")
    val fs   = from.getFileSystem(conf)
    val to   = new Path(dst)
    val files =
      if (fs.getFileStatus(from).isDirectory) {
        val entries = fs.listStatus(from)
        require(!entries.exists(_.isDirectory),
          s"$from has subdirectories (partitioned layout?); only a flat table can be staged")
        entries.filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).map(_.getPath)
      } else Array(from)
    require(files.nonEmpty, s"$from has no *.parquet file to stage")
    files.foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(fs, f, fs, new Path(to, f.getName), false, conf)
    }
    dst
  }
}
