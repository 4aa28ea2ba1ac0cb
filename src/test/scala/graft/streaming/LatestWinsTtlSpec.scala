package graft.streaming

import java.time.Duration

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSpecBase
import graft.GraftSpecBase.tmpDir

/** What `StatefulDedup.latestWins(ttl = …)` forgets, and when. The TTL is a
  * processing-time timeout: a key's high-water mark is dropped only in a
  * batch that runs after the TTL has passed and in which that key has NO
  * data. A key whose next record arrives first is handed its stored state
  * (flatMapGroupsWithState processes keys with data before timeouts), so
  * it keeps suppressing.
  *
  * Shape note: each drain is a CHECKPOINTED single batch (Trigger.Once).
  * A processing-time timeout keeps the micro-batch engine triggering, so
  * `Trigger.AvailableNow` does not terminate and `processAllAvailable` on
  * the default trigger never settles; Trigger.Once bounds the run to one
  * batch by construction.
  */
class LatestWinsTtlSpec extends GraftSpecBase {
  import spark.implicits._

  type Rec = (String, Long, String)

  // Trigger.Once is deprecated in favor of AvailableNow, which does not
  // terminate under a processing-time timeout (see class doc).
  @annotation.nowarn("cat=deprecation")
  private val onceTrigger: Trigger = Trigger.Once()

  private val ttlMs = 2000L

  /** A source dir and checkpoint; each call writes `rows` and drains them
    * in one fresh Trigger.Once query, returning what it emitted.
    */
  private def drains(): Seq[Rec] => Set[Rec] = {
    val srcDir = tmpDir("lwttl-src")
    val ckpt   = tmpDir("lwttl-ckpt")
    rows => {
      rows.toDF("key", "version", "name").write.mode("append").parquet(srcDir)
      val got = new java.util.concurrent.CopyOnWriteArrayList[Rec]()
      val src = spark.readStream.schema("key STRING, version BIGINT, name STRING").parquet(srcDir).as[Rec]
      StatefulDedup
        .latestWins[String, Rec](src, _._1, _._2, ttl = Some(Duration.ofMillis(ttlMs)))
        .writeStream.outputMode("append")
        .foreachBatch { (b: Dataset[Rec], _: Long) => b.collect().foreach(got.add) }
        .option("checkpointLocation", ckpt)
        .trigger(onceTrigger)
        .start()
        .awaitTermination()
      got.asScala.toSet
    }
  }

  test("latestWins ttl: a key's mark expires in a later batch without it, then a lower version emits") {
    val drain = drains()
    assert(drain(Seq(("k", 3L, "a"))) === Set(("k", 3L, "a")))
    Thread.sleep(ttlMs + 1000)
    // only another key: k's timeout fires in this batch and drops its state
    assert(drain(Seq(("j", 1L, "x"))) === Set(("j", 1L, "x")))
    assert(drain(Seq(("k", 1L, "after-expiry"))) === Set(("k", 1L, "after-expiry")))
  }

  test("latestWins ttl: a key silent past the TTL keeps its mark when its next record comes first") {
    val drain = drains()
    assert(drain(Seq(("k", 3L, "a"))) === Set(("k", 3L, "a")))
    Thread.sleep(ttlMs + 1000)
    assert(drain(Seq(("k", 1L, "late"))) === Set.empty)
    assert(drain(Seq(("k", 4L, "b"))) === Set(("k", 4L, "b")))
  }

  test("latestWins ttl: a TTL below one millisecond fails at the call, before any query starts") {
    val src = spark.readStream.schema("key STRING, version BIGINT, name STRING")
      .parquet(tmpDir("lwttl-bad")).as[Rec]
    Seq(Duration.ZERO, Duration.ofNanos(500)).foreach { d =>
      val e = intercept[IllegalArgumentException] {
        StatefulDedup.latestWins[String, Rec](src, _._1, _._2, ttl = Some(d))
      }
      assert(e.getMessage.contains("ttl must be at least 1 ms"), d.toString)
    }
  }
}
