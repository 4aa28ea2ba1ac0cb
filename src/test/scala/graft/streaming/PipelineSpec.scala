package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CompletionException, ConcurrentLinkedQueue, ExecutionException}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir
import graft.cdc.Envelope

/** Streaming twins of the reference's integration tests (SURVEY.md §5):
  *  - CdcPipelineIT: created/updated rows appear enriched in the output;
  *  - DlqPipelineIT: failed lookups land in the DLQ, are absent from the
  *    output, and appear after replay against the repaired dimension;
  *  - AnimalStreamControlIT: stop/start/status/offsets via StreamRegistry.
  * Plus the micro-batch body's own contract: a forced replay of a batch
  * leaves each row in its sink once, one source read per batch, a
  * failing branch fails the batch loudly, the A10 DLQ count log.
  * File-based sources/sinks stand in for Kafka topics (no broker here).
  */
class PipelineSpec extends GraftSpecBase {

  private val payload = StructType(Seq(
    StructField("id", LongType, nullable = true),
    StructField("name", StringType, nullable = true)
  ))
  private val recordSchema = StructType(Seq(
    StructField("key", StructType(Seq(StructField("id", LongType))), nullable = true),
    StructField("value", Envelope.envelopeSchema(payload), nullable = true)
  ))

  private def envRow(id: Long, name: String): Row =
    Row(Row(id), Row(null, Row(id, name), "c", 1000L))

  private def dim(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"breed-$i")).toDF("dim_id", "breed")
  }


  test("enrich pipeline: hits to success sink, misses to DLQ, replay repairs them") {
    val srcDir     = tmpDir("src")
    val okPath     = tmpDir("ok")
    val dlqPath    = tmpDir("dlq")

    // phase 1 (DlqPipelineIT:55): dimension knows ids 1,2 — id 3 must fail
    spark
      .createDataFrame(
        spark.sparkContext.parallelize(Seq(envRow(1, "a"), envRow(2, "b"), envRow(3, "c"))),
        recordSchema
      )
      .write.mode("overwrite").parquet(srcDir)

    val source = spark.readStream.schema(recordSchema).parquet(srcDir)
    val q = Pipelines.startEnrichPipeline(
      "animalTransform", source, () => dim(1, 2), "dim_id", Seq("breed"),
      okPath, dlqPath, tmpDir("ckpt")
    )
    q.processAllAvailable(); q.stop()

    val ok = spark.read.parquet(okPath)
    assert(ok.select("id").collect().map(_.getLong(0)).sorted === Array(1L, 2L))
    assert(ok.columns.contains("breed") && ok.columns.contains("key"))
    val dlq = spark.read.parquet(dlqPath)
    // DLQ carries the ORIGINAL envelope (A9), not an error record
    assert(dlq.select("value.after.id").collect().map(_.getLong(0)) === Array(3L))
    // both sinks' schemas, exactly: the success sink is the key struct,
    // then the `after` fields, then the dim columns; the DLQ sink is the
    // original record, key and envelope
    assert(spark.read.parquet(s"$okPath/batch=0").schema === StructType(Seq(
      StructField("key", StructType(Seq(StructField("id", LongType)))),
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("breed", StringType))))
    assert(spark.read.parquet(s"$dlqPath/batch=0").schema === recordSchema)

    // phase 2 (DlqPipelineIT:128): replay DLQ against the repaired dimension
    val replay = Pipelines.startDlqReplay(
      "animalDlqTransform", spark, dlqPath, dlq.schema, () => dim(1, 2, 3),
      "dim_id", Seq("breed"), okPath, tmpDir("ckpt2"), maxFilesPerTrigger = 10
    )
    replay.processAllAvailable(); replay.stop()
    assert(spark.read.parquet(okPath).select("id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
  }

  private def land(dir: String, ids: Seq[Long], files: Int): Unit =
    spark
      .createDataFrame(spark.sparkContext.parallelize(ids.map(i => envRow(i, s"n$i")), files), recordSchema)
      .write.mode("overwrite").parquet(dir)

  private def drain(name: String, source: DataFrame, dimIds: Seq[Long],
      okPath: String, dlqPath: String, ckpt: String): StreamingQuery = {
    val q = Pipelines.startEnrichPipeline(name, source, () => dim(dimIds: _*), "dim_id", Seq("breed"),
      okPath, dlqPath, ckpt)
    q.awaitTermination()
    q
  }

  /** Success rows as "id,name,breed,batch" and DLQ ids, both sorted. */
  private def sinkRows(okPath: String, dlqPath: String): (Seq[String], Seq[Long]) = (
    spark.read.parquet(okPath).select("id", "name", "breed", "batch").collect().map(_.mkString(",")).sorted.toSeq,
    spark.read.parquet(dlqPath).select("key.id").collect().map(_.getLong(0)).sorted.toSeq)

  test("enrich pipeline: exactly-once across a FORCED micro-batch replay") {
    val srcDir = tmpDir("r-src")
    land(srcDir, Seq(1L, 2L, 3L), files = 1)
    val source = () => spark.readStream.schema(recordSchema).parquet(srcDir)

    val cleanOk = tmpDir("r-clean-ok"); val cleanDlq = tmpDir("r-clean-dlq")
    drain("replay-clean", source(), Seq(1L, 2L), cleanOk, cleanDlq, tmpDir("r-clean-ckpt"))

    val okPath = tmpDir("r-ok"); val dlqPath = tmpDir("r-dlq"); val ckpt = tmpDir("r-ckpt")
    drain("replay", source(), Seq(1L, 2L), okPath, dlqPath, ckpt)
    // FORCE the replay: delete batch 0's checkpoint commit marker — on
    // restart the engine sees the offset log ahead of the commit log and
    // re-executes the batch with the SAME batchId (the crash-between-
    // sink-write-and-checkpoint-commit window, for real)
    val commit0 = Paths.get(ckpt, "commits", "0")
    assert(Files.exists(commit0), "expected checkpoint commit marker for batch 0")
    Files.delete(commit0)
    // the local-fs checksum sidecar must go with it or the re-write trips
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc"))
    val q = drain("replay", source(), Seq(1L, 2L), okPath, dlqPath, ckpt)
    assert(q.recentProgress.exists(p => p.batchId == 0L && p.numInputRows == 3L), "batch 0 was not replayed")

    // the replayed batch overwrote its own batch=0 directories: each id
    // exactly once, in the same sink as a clean run's
    val (ok, dlq) = sinkRows(okPath, dlqPath)
    assert(ok.map(_.split(",")(0).toLong) === Seq(1L, 2L))
    assert(dlq === Seq(3L))
    assert((ok, dlq) === sinkRows(cleanOk, cleanDlq))
  }

  test("each micro-batch reads its source once") {
    // 6 files admitted 2 per trigger: 3 batches, each with hits and misses
    val ids = 1L to 300L
    val srcDir = tmpDir("once-src")
    land(srcDir, ids, files = 6)
    val okPath = tmpDir("once-ok"); val dlqPath = tmpDir("once-dlq")
    val source = spark.readStream.schema(recordSchema).option("maxFilesPerTrigger", 2L).parquet(srcDir)
    val q = drain("once", source, ids.filter(_ % 2 == 0), okPath, dlqPath, tmpDir("once-ckpt"))
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length === 3)
    // numInputRows counts the rows the source scan produced: a second
    // read of any batch would count its rows twice
    assert(batches.map(_.numInputRows).sum === ids.length.toLong)
    assert(spark.read.parquet(okPath).count() === 150L)
    assert(spark.read.parquet(dlqPath).count() === 150L)
  }

  /** Drains ids 1..3 against a dimension of 1, 2 with one sink path
    * blocked by a regular file and checks the failure; then removes the
    * blocker, restarts from the same checkpoint and compares the sinks
    * with a clean run's.
    */
  private def blockedRun(blockOk: Boolean): Unit = {
    val srcDir = tmpDir("blk-src")
    land(srcDir, Seq(1L, 2L, 3L), files = 1)
    val source = () => spark.readStream.schema(recordSchema).parquet(srcDir)

    val cleanOk = tmpDir("blk-clean-ok"); val cleanDlq = tmpDir("blk-clean-dlq")
    drain("blocked-clean", source(), Seq(1L, 2L), cleanOk, cleanDlq, tmpDir("blk-clean-ckpt"))

    val blocker = Files.createFile(Paths.get(tmpDir("blk-file"), "sink")).toString
    val okPath  = if (blockOk) blocker else tmpDir("blk-ok")
    val dlqPath = if (blockOk) tmpDir("blk-dlq") else blocker
    val ckpt    = tmpDir("blk-ckpt")
    val err = intercept[StreamingQueryException](
      drain("blocked", source(), Seq(1L, 2L), okPath, dlqPath, ckpt))
    // the same write outside the stream fails with this exception class
    val own = intercept[Exception](spark.range(1).write.parquet(s"$blocker/batch=0")).getClass
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    val shown = chain.map(_.getClass.getName).mkString(" <- ")
    assert(!chain.exists(e => e.isInstanceOf[ExecutionException] || e.isInstanceOf[CompletionException]), shown)
    assert(chain.exists(e => e.getClass == own && e.getMessage.contains(blocker)), s"no $own for $blocker: $shown")
    // the other branch finished before the query reported the failure
    val other = if (blockOk) dlqPath else okPath
    assert(Files.exists(Paths.get(other, "batch=0", "_SUCCESS")), s"unfinished branch write under $other")

    Files.delete(Paths.get(blocker))
    val q = drain("blocked", source(), Seq(1L, 2L), okPath, dlqPath, ckpt)
    assert(q.exception.isEmpty)
    assert(sinkRows(okPath, dlqPath) === sinkRows(cleanOk, cleanDlq))
  }

  test("a failing DLQ write fails the batch loudly; a restart replays it cleanly") {
    blockedRun(blockOk = false)
  }

  test("a failing success write fails the batch loudly; a restart replays it cleanly") {
    blockedRun(blockOk = true)
  }

  /** What `Pipelines` logs at INFO while `body` runs. */
  private def pipelinesLog(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("pipelines-log", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(Pipelines.getClass).asInstanceOf[CoreLogger]
    val level = logger.getLevel
    // the appender first: adding it re-derives the logger's level
    logger.addAppender(appender)
    logger.setLevel(Level.INFO)
    try body
    finally { logger.removeAppender(appender); logger.setLevel(level); appender.stop() }
    lines.asScala.toSeq
  }

  test("the pipeline logs the DLQ count (A10 peek)") {
    val srcDir = tmpDir("peek-src")
    land(srcDir, Seq(1L, 2L, 3L, 4L, 5L), files = 1)
    val lines = pipelinesLog(drain("peek", spark.readStream.schema(recordSchema).parquet(srcDir),
      Seq(1L, 2L), tmpDir("peek-ok"), tmpDir("peek-dlq"), tmpDir("peek-ckpt")))
    assert(lines.contains("[peek] batch 0: 3 record(s) routed to DLQ"), lines.toString)
  }

  test("manual export: plain and envelope-shaped JSON, unparseable rejected") {
    val okPath = tmpDir("manual")
    assert(Pipelines.manualExport(spark, """{"id": 7, "name": "Buddy"}""", payload, okPath) === 1L)
    assert(Pipelines.manualExport(spark, """{"after": {"id": 8, "name": "Rex"}}""", payload, okPath) === 1L)
    assert(Pipelines.manualExport(spark, """{"name": "no-id"}""", payload, okPath) === 0L)
    val out = spark.read.parquet(okPath)
    assert(out.select("id").collect().map(_.getLong(0)).sorted === Array(7L, 8L))
  }

  test("registry: stop/start/status/offsets/reset lifecycle") {
    val srcDir = tmpDir("csrc")
    val okPath = tmpDir("cok")
    spark
      .createDataFrame(spark.sparkContext.parallelize(Seq(envRow(1, "a"))), recordSchema)
      .write.mode("overwrite").parquet(srcDir)

    val registry = new StreamRegistry(spark)
    registry.register(
      "ctl",
      epoch => {
        val source = spark.readStream.schema(recordSchema).parquet(srcDir)
        Pipelines.startEnrichPipeline(
          s"ctl-$epoch", source, () => dim(1), "dim_id", Seq("breed"),
          okPath, tmpDir("cdlq"), tmpDir(s"cckpt$epoch")
        )
      }
    )
    assert(registry.isRunning("ctl"))
    val st = registry.status("ctl")
    assert(st.exists(_._3))

    assert(registry.stop("ctl"))
    assert(!registry.isRunning("ctl"))
    assert(registry.start("ctl"))
    assert(registry.isRunning("ctl"))

    // reset: bumps epoch -> fresh checkpoint, query restarts (A18 semantics)
    registry.reset("ctl")
    assert(registry.isRunning("ctl"))
    registry.stopAll()
    assert(!registry.isRunning("ctl"))
  }
}
