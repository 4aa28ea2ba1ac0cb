package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir

/** Crash-restart parity for the keyed state of `StatefulDedup.latestWins`:
  * the version high-water marks written through one checkpointed query
  * must be picked up by a FRESH query on the same checkpoint, which then
  * emits exactly what an uninterrupted run would have — the
  * exactly-once-state claim proven across a process boundary rather than
  * across micro-batches of one live query. Each drain is one Trigger.Once
  * batch through `foreachBatch` from a parquet source (the memory sink
  * cannot recover a checkpoint).
  */
class RestartParitySpec extends GraftSpecBase {
  import spark.implicits._

  type Rec = (String, Long, String)

  @annotation.nowarn("cat=deprecation")
  private val onceTrigger: Trigger = Trigger.Once()

  // key k stores 3; then its 2 and 3 (at or below the mark) are suppressed
  // while key j advances and key m arrives; then k advances past its mark
  // while the redelivered j and m records are suppressed
  private val batches: Seq[Seq[Rec]] = Seq(
    Seq(("k", 3L, "a"), ("k", 1L, "older"), ("j", 1L, "x")),
    Seq(("k", 2L, "stale"), ("k", 3L, "dup"), ("j", 2L, "y"), ("m", 1L, "new")),
    Seq(("k", 5L, "b"), ("j", 2L, "redelivered"), ("m", 1L, "redelivered"))
  )

  /** Each batch lands as ONE parquet file, moved into `srcDir` complete, so
    * a live query never lists a half-written batch.
    */
  private def writeBatch(srcDir: String, rows: Seq[Rec]): Unit = {
    val stage = tmpDir("lwr-stage")
    rows.toDF("key", "version", "name").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = Files.list(Paths.get(stage)).iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
    Files.move(part, Paths.get(srcDir, part.getFileName.toString))
  }

  /** Starts latest-wins over `srcDir`, collecting each batch's emissions. */
  private def start(srcDir: String, ckpt: String, qname: String, trigger: Option[Trigger])(
      got: java.util.List[Set[Rec]]
  ): StreamingQuery = {
    val src = spark.readStream.schema("key STRING, version BIGINT, name STRING").parquet(srcDir).as[Rec]
    val w = StatefulDedup
      .latestWins[String, Rec](src, _._1, _._2)
      .writeStream.queryName(qname).outputMode("append")
      .foreachBatch { (b: Dataset[Rec], _: Long) => got.add(b.collect().toSet); () }
      .option("checkpointLocation", ckpt)
    trigger.fold(w)(w.trigger).start()
  }

  /** One fresh query per batch on a shared checkpoint. */
  private def restartedDrains(): Seq[Set[Rec]] = {
    val srcDir = tmpDir("lwr-src")
    val ckpt   = tmpDir("lwr-ckpt")
    batches.zipWithIndex.map { case (rows, i) =>
      writeBatch(srcDir, rows)
      val got = new java.util.concurrent.CopyOnWriteArrayList[Set[Rec]]()
      start(srcDir, ckpt, s"lwr_$i", Some(onceTrigger))(got).awaitTermination()
      assert(got.size === 1, s"drain $i ran ${got.size} batches")
      got.get(0)
    }
  }

  /** One live query over the same batch boundaries. */
  private def uninterruptedRun(): Seq[Set[Rec]] = {
    val srcDir = tmpDir("lwu-src")
    val got    = new java.util.concurrent.CopyOnWriteArrayList[Set[Rec]]()
    val q      = start(srcDir, tmpDir("lwu-ckpt"), "lwu", None)(got)
    try batches.foreach { rows => writeBatch(srcDir, rows); q.processAllAvailable() }
    finally q.stop()
    got.asScala.toSeq.filter(_.nonEmpty)
  }

  test("latestWins: a fresh query on the same checkpoint suppresses stored versions and emits advances") {
    assert(restartedDrains() === Seq(
      Set(("k", 3L, "a"), ("j", 1L, "x")),
      Set(("j", 2L, "y"), ("m", 1L, "new")),
      Set(("k", 5L, "b"))
    ))
  }

  test("latestWins on RocksDB: restarted drains write the same sink as an uninterrupted run") {
    withRocksDB {
      assert(restartedDrains() === uninterruptedRun())
    }
  }
}
