package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir
import graft.cdc.Envelope
import graft.streaming.Pipelines
import graft.tools.Profile

/** Pins the fork-free `file:` filesystem `GraftSession` registers: a CDC
  * drain starts no `chmod` or `readlink` process, both Hadoop APIs resolve
  * to it from the session's conf, the files and directories it writes
  * keep Hadoop's modes, and its two NIO methods answer as Hadoop's do.
  */
class LocalFsSpec extends GraftSpecBase {

  private val payload = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
  private val schema = StructType(Seq(
    StructField("key", StructType(Seq(StructField("id", LongType)))),
    StructField("value", Envelope.envelopeSchema(payload))))

  /** Drains a 3-file envelope source one file per micro-batch through
    * `Pipelines.startEnrichPipeline`; returns (success, DLQ, checkpoint)
    * and the command lines of the processes started during the drain.
    */
  private lazy val drained: ((String, String, String), Seq[String]) = {
    val src = tmpDir("localfs-src")
    val rows = (1L to 60L).map(i => Row(Row(i), Row(null, Row(i, s"n$i"), "c", 1000L)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema).write.mode("overwrite").parquet(src)
    def dim(): DataFrame = {
      import spark.implicits._
      (1L to 40L).map(i => (i, s"breed-$i")).toDF("dim_id", "breed")
    }
    val dirs = (tmpDir("localfs-ok"), tmpDir("localfs-dlq"), tmpDir("localfs-ckpt"))
    val (_, started) = Profile.processStarts {
      val q = Pipelines.startEnrichPipeline("localfs", spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        () => dim(), "dim_id", Seq("breed"), dirs._1, dirs._2, dirs._3)
      q.awaitTermination()
      assert(q.exception.isEmpty, q.exception)
    }
    (dirs, started)
  }

  private def mode(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))

  test("a drain of several micro-batches starts no chmod or readlink process") {
    val ((ok, dlq, _), started) = drained
    val batches = Seq(ok, dlq).map(d => new java.io.File(d).list().count(_.startsWith("batch=")))
    assert(batches === Seq(3, 3))
    val forks = started.filter(c => Set("chmod", "readlink")(c.split(" ").head.split("/").last))
    assert(forks.isEmpty, s"${forks.size} of ${started.size} process starts: ${forks.take(5)}")
  }

  test("the session's hadoopConf resolves file: to LocalFs for FileSystem and FileContext") {
    for (conf <- Seq(spark.sessionState.newHadoopConf(), spark.sparkContext.hadoopConfiguration)) {
      val fs = FileSystem.get(URI.create("file:///"), conf)
      assert(fs.isInstanceOf[LocalFs.Checksummed], fs.getClass)
      assert(new Path(tmpDir("localfs-get")).getFileSystem(conf) eq fs)
      assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[LocalFs.Raw])
      val fc = FileContext.getFileContext(conf).getDefaultFileSystem
      assert(fc.isInstanceOf[LocalFs.Context], fc.getClass)
    }
  }

  test("sink and checkpoint files keep mode 0644 and directories 0755") {
    val ((ok, dlq, ckpt), _) = drained
    for (root <- Seq(ok, dlq, ckpt).map(Paths.get(_))) {
      val tree = Files.walk(root).iterator.asScala.filterNot(_ == root).toSeq
      val (dirs, files) = tree.partition(Files.isDirectory(_))
      assert(files.exists(_.getFileName.toString.endsWith(".crc")), root)
      assert(dirs.nonEmpty && files.nonEmpty, root)
      dirs.foreach(d => assert(mode(d) === "rwxr-xr-x", d))
      files.foreach(f => assert(mode(f) === "rw-r--r--", f))
    }
  }

  private def bothRaw(): (RawLocalFileSystem, LocalFs.Raw) = {
    val conf = new Configuration()
    val hadoop = new RawLocalFileSystem
    val ours   = new LocalFs.Raw
    hadoop.initialize(URI.create("file:///"), conf)
    ours.initialize(URI.create("file:///"), conf)
    (hadoop, ours)
  }

  test("setPermission sets the mode bits Hadoop's chmod sets") {
    val (hadoop, ours) = bothRaw()
    val dir = Paths.get(tmpDir("localfs-chmod"))
    for ((perm, i) <- Seq("644", "755", "600", "750", "000", "777", "1755").zipWithIndex) {
      val pair = Seq("h", "o").map(s => Files.createDirectory(dir.resolve(s"$s$i")))
      hadoop.setPermission(new Path(pair(0).toString), new FsPermission(perm))
      ours.setPermission(new Path(pair(1).toString), new FsPermission(perm))
      assert(mode(pair(1)) === mode(pair(0)), perm)
    }
  }

  test("getFileLinkStatus matches RawLocalFileSystem on a missing path, a file, a directory and symlinks") {
    val (hadoop, ours) = bothRaw()
    val dir      = Paths.get(tmpDir("localfs-link"))
    val file     = Files.write(dir.resolve("f"), "abc".getBytes)
    val link     = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("d"), dir.resolve("gone"))
    val missing  = dir.resolve("missing")
    // a status's fields (FileStatus.equals compares the path alone), or the exception thrown
    def outcome(fs: RawLocalFileSystem, p: Path) = Try(fs.getFileLinkStatus(p)).toEither
      .map(s => (s.getPath, s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup))
      .left.map(e => (e.getClass, e.getMessage))
    for (p <- Seq(missing, file, dir, link, dangling); hp <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(outcome(ours, hp) === outcome(hadoop, hp), hp)
    }
    // Hadoop reads a link only on an unscheme'd path: there both report one
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(outcome(ours, new Path(missing.toString)).left.map(_._1) === Left(classOf[FileNotFoundException]))
  }
}
