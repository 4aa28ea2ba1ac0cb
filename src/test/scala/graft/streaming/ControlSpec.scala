package graft.streaming

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir

/** A17/A18 control-plane semantics, mirroring the reference's
  * AnimalStreamControlIT offset sequence (reset to earliest / latest /
  * specific offsets, lag while a backlog exists, zero after drain).
  */
class ControlSpec extends GraftSpecBase {
  import spark.implicits._


  private def writeFile(dir: String, ids: Long*): Unit =
    ids.toSeq.toDF("id").coalesce(1).write.mode("append").parquet(dir)

  private def drain(): Unit = spark.streams.active.foreach(_.processAllAvailable())

  private def sinkIds(dir: String): Seq[Long] =
    if (new java.io.File(dir).exists())
      spark.read.schema("id LONG").parquet(dir).as[Long].collect().toSeq.sorted
    else Seq.empty

  test("OffsetLag.distance handles scalar, file and kafka offset shapes") {
    assert(OffsetLag.distance("5", "12") === Some(7L))
    assert(OffsetLag.distance("""{"logOffset":3}""", """{"logOffset":3}""") === Some(0L))
    assert(OffsetLag.distance("""{"logOffset":1}""", """{"logOffset":4}""") === Some(3L))
    assert(OffsetLag.distance(
      """{"t":{"0":100,"1":50}}""",
      """{"t":{"0":130,"1":55}}"""
    ) === Some(35L))
    // partition missing on the committed side counts from 0, like a fresh
    // partition the group never consumed
    assert(OffsetLag.distance("""{"t":{"0":10}}""", """{"t":{"0":10,"1":5}}""") === Some(5L))
    assert(OffsetLag.distance("not-json", "1") === None)
  }

  test("ResetSpec maps to Kafka startingOffsets values") {
    assert(ResetSpec.kafkaStartingOffsets(ResetSpec.Earliest, "animals") === "earliest")
    assert(ResetSpec.kafkaStartingOffsets(ResetSpec.Latest, "animals") === "latest")
    assert(ResetSpec.kafkaStartingOffsets(
      ResetSpec.Offsets(Map(1 -> 42L, 0 -> 7L)), "animals"
    ) === """{"animals":{"0":7,"1":42}}""")
  }

  test("reset to latest skips the backlog; reset to earliest replays it") {
    val srcDir = tmpDir("rst-src"); val ckptRoot = tmpDir("rst-ckpt"); val okRoot = tmpDir("rst-ok")
    writeFile(srcDir, 1L, 2L)
    writeFile(srcDir, 3L)

    val registry = new StreamRegistry(spark)
    @volatile var curCkpt = ""
    registry.registerResettable(
      "files",
      (epoch, spec) => {
        val ckpt = s"$ckptRoot/e$epoch"
        curCkpt = ckpt
        if (spec == ResetSpec.Latest) {
          FileSourceReset.seedLatest(spark, ckpt, srcDir)
          FileSourceReset.seedSinkLog(s"$okRoot/e$epoch")
        }
        spark.readStream.schema("id LONG").parquet(srcDir)
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt)
          .option("path", s"$okRoot/e$epoch")
          .start()
      },
      lagProbe = Some(() => FileSourceLag.unprocessedFiles(curCkpt, srcDir))
    )
    drain()
    assert(sinkIds(s"$okRoot/e0") === Seq(1L, 2L, 3L))
    assert(registry.lag("files") === Some(0L))

    // reset to LATEST: the 3-row backlog is skipped; only post-reset files
    // flow (the reference's seek-to-end)
    registry.reset("files", ResetSpec.Latest)
    writeFile(srcDir, 4L)
    drain()
    assert(sinkIds(s"$okRoot/e1") === Seq(4L))

    // reset to EARLIEST: everything replays into the fresh epoch
    registry.reset("files", ResetSpec.Earliest)
    drain()
    assert(sinkIds(s"$okRoot/e2") === Seq(1L, 2L, 3L, 4L))
    registry.stopAll()
  }

  test("reset fully terminates the old run before the new one starts") {
    // the reference's group-inactive wait (StreamControlService.java:199-219)
    // guarantees no concurrent consumption during a reset; here the factory
    // itself checks the previous query is dead at relaunch time
    val srcDir = tmpDir("seq-src"); val ckptRoot = tmpDir("seq-ckpt")
    writeFile(srcDir, 1L)
    val registry = new StreamRegistry(spark)
    @volatile var prevQ: org.apache.spark.sql.streaming.StreamingQuery = null
    @volatile var overlapped = false
    registry.registerResettable(
      "seq",
      (epoch, _) => {
        if (prevQ != null && prevQ.isActive) overlapped = true
        val q = spark.readStream.schema("id LONG").parquet(srcDir)
          .writeStream.format("noop")
          .option("checkpointLocation", s"$ckptRoot/e$epoch")
          .start()
        prevQ = q
        q
      }
    )
    drain()
    registry.reset("seq", ResetSpec.Earliest)
    registry.reset("seq", ResetSpec.Earliest)
    assert(!overlapped, "a relaunched query observed its predecessor still active")
    registry.stopAll()
  }

  test("reset under a concurrent writer: nothing commits after stop, batch ids stay contiguous") {
    // the reference's group-inactive wait (StreamControlService.java:199-219)
    // exists so that between "stop" and "seek + restart" no poll can
    // commit; the Spark analogue is: once reset() returns, the OLD
    // checkpoint's commit log is frozen forever, and each epoch's commit
    // log is gap-free even while a writer keeps appending source files
    def commitIds(ckpt: String): Seq[Long] = {
      val dir = new java.io.File(ckpt, "commits")
      if (!dir.exists()) Seq.empty
      else dir.listFiles().toSeq.map(_.getName).filter(_.matches("\\d+")).map(_.toLong).sorted
    }

    val srcDir = tmpDir("guard-src"); val ckptRoot = tmpDir("guard-ckpt"); val okRoot = tmpDir("guard-ok")
    writeFile(srcDir, 0L)

    val registry = new StreamRegistry(spark)
    @volatile var curCkpt = ""
    registry.registerResettable(
      "guard",
      (epoch, _) => {
        val ckpt = s"$ckptRoot/e$epoch"
        curCkpt = ckpt
        spark.readStream.schema("id LONG").option("maxFilesPerTrigger", "1").parquet(srcDir)
          .writeStream.format("parquet")
          .option("checkpointLocation", ckpt)
          .option("path", s"$okRoot/e$epoch")
          .start()
      }
    )
    drain()

    // concurrent writer keeps appending through the reset window
    val stopWriter = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => {
      var i = 1L
      while (!stopWriter.get()) { writeFile(srcDir, i); i += 1; Thread.sleep(20) }
    })
    writer.start()
    try {
      Thread.sleep(200) // let some mid-flight batches commit
      val oldCkpt = curCkpt
      registry.reset("guard", ResetSpec.Earliest)

      // the moment reset() returns the old run is terminated: its commit
      // log must never advance again, writer or no writer
      val frozenAt = commitIds(oldCkpt)
      Thread.sleep(400)
      assert(commitIds(oldCkpt) === frozenAt,
        "old run committed a micro-batch after reset() returned")
    } finally { stopWriter.set(true); writer.join() }
    drain()
    val newCkpt = curCkpt

    // both epochs' commit logs are contiguous from 0 — no torn/skipped batch
    for (ck <- Seq(s"$ckptRoot/e0", newCkpt)) {
      val ids = commitIds(ck)
      assert(ids.nonEmpty, s"no commits under $ck")
      assert(ids === (0L to ids.max), s"commit log has gaps under $ck: $ids")
    }

    // Earliest replay: the new epoch's sink holds every source file's row
    // exactly once — nothing was double-consumed during the handover
    val expected = spark.read.schema("id LONG").parquet(srcDir).as[Long].collect().toSeq.sorted
    assert(sinkIds(s"$okRoot/e1") === expected)
    registry.stopAll()
  }

  test("reset refuses to relaunch while the previous run is still active") {
    val srcDir = tmpDir("refuse-src"); val ckptRoot = tmpDir("refuse-ckpt")
    writeFile(srcDir, 1L)
    val gate     = new CountDownLatch(1)
    val entered  = new CountDownLatch(1)
    val registry = new StreamRegistry(spark)
    // stop() interrupts the stream thread; the wedged batch below ignores
    // the interrupt, so stop must give up after a bounded wait instead of
    // blocking forever
    val prevStopTimeout = spark.conf.getOption("spark.sql.streaming.stopTimeout")
    spark.conf.set("spark.sql.streaming.stopTimeout", "200")
    try {
      registry.registerResettable(
        "refuse",
        (epoch, _) =>
          spark.readStream.schema("id LONG").parquet(srcDir)
            .writeStream
            .option("checkpointLocation", s"$ckptRoot/e$epoch")
            .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
              df.count()
              entered.countDown()
              // wedge the micro-batch, surviving the stop() interrupt —
              // the shape of a sink call that genuinely cannot be cancelled
              var done = false
              while (!done)
                try { gate.await(30, TimeUnit.SECONDS); done = true }
                catch { case _: InterruptedException => () }
              ()
            }
            .start()
      )
      // stop cannot confirm termination while batch 0 is wedged → reset
      // must throw rather than start a concurrent second run
      assert(entered.await(30, TimeUnit.SECONDS), "batch 0 never reached the wedge")
      val ex = intercept[IllegalStateException] {
        registry.reset("refuse", ResetSpec.Earliest, stopTimeoutMs = 500)
      }
      assert(ex.getMessage.contains("refusing to relaunch"))
    } finally {
      gate.countDown()
      prevStopTimeout match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stopTimeout", v)
        case None    => spark.conf.unset("spark.sql.streaming.stopTimeout")
      }
      registry.stopAll()
      // the wedged run was removed from the registry by the failed stop;
      // make sure nothing leaks into later suites
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    }
  }

  test("lag reports the backlog mid-stream and zero after drain") {
    val srcDir = tmpDir("lag-src"); val ckpt = tmpDir("lag-ckpt")
    writeFile(srcDir, 1L)
    writeFile(srcDir, 2L)
    writeFile(srcDir, 3L)

    val gate     = new CountDownLatch(1)
    val registry = new StreamRegistry(spark)
    registry.registerResettable(
      "throttled",
      (_, _) =>
        spark.readStream.schema("id LONG").option("maxFilesPerTrigger", "1").parquet(srcDir)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            df.count()
            if (id == 1) gate.await(60, TimeUnit.SECONDS)
            ()
          }
          .start(),
      lagProbe = Some(() => FileSourceLag.unprocessedFiles(ckpt, srcDir))
    )
    // batch 0 (1 file) commits, batch 1 blocks in its sink: committed side
    // has processed 1 of 3 files (lag counts down 3 → 2 and holds there
    // while the gate is closed)
    val deadline = System.currentTimeMillis() + 30000
    while (!registry.lag("throttled").contains(2L) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(registry.lag("throttled") === Some(2L))
    gate.countDown()
    drain()
    assert(registry.lag("throttled") === Some(0L))
    registry.stopAll()
  }
}
