package graft.streaming

import java.time.Duration

import org.apache.spark.sql.streaming.{TTLConfig, Trigger}

import graft.GraftSpecBase

/** The "TTL-expirable state" claim, proven end-to-end: a
  * transformWithState operator given a TTL must (a) start at all — TTL
  * state demands processing-time mode, which KeyedFold.tws derives from
  * the TTL (TimeMode.None + a TTL throws at state registration) — and
  * (b) actually forget a key that went cold longer than the TTL.
  *
  * Shape note: the test uses CHECKPOINTED single-batch (Trigger.Once)
  * runs rather than one long-lived query, because processing-time mode
  * keeps the micro-batch engine triggering continuously — measured:
  * `Trigger.AvailableNow` ran 4,700+ empty batches without terminating,
  * and `processAllAvailable` on the default trigger never settles.
  * Trigger.Once is the one trigger that bounds the run to exactly one
  * batch by construction. Drain-and-restart is also the honest
  * production shape for TTL: expiry is enforced by the store on read,
  * surviving restarts via the checkpoint.
  */
class TwsTtlSpec extends GraftSpecBase {
  import spark.implicits._

  // Trigger.Once is deprecated in favor of AvailableNow, but AvailableNow
  // does not terminate under TimeMode.ProcessingTime (see class doc).
  @annotation.nowarn("cat=deprecation")
  private val onceTrigger: Trigger = Trigger.Once()

  test("RunningStats with a TTL runs under AvailableNow, and a cold key's state expires") {
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    val srcDir = java.nio.file.Files.createTempDirectory("ttl-src").toString
    val ckpt   = java.nio.file.Files.createTempDirectory("ttl-ckpt").toString
    try {
      def writeBatch(x: Double): Unit =
        Seq(("k", x)).toDF("key", "x").write.mode("append").parquet(srcDir)

      // foreachBatch, not the memory sink: only the former supports
      // recovering from an existing checkpoint, which the restart shape needs.
      def drainOnce(qname: String): Seq[RunningStats.KeyStats] = {
        val got = new java.util.concurrent.CopyOnWriteArrayList[RunningStats.KeyStats]()
        val src = spark.readStream
          .schema("key STRING, x DOUBLE")
          .parquet(srcDir)
          .as[(String, Double)]
        val q = RunningStats.perKey(src, ttl = TTLConfig(Duration.ofSeconds(10)))
          .writeStream.queryName(qname).outputMode("update")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[RunningStats.KeyStats], _: Long) =>
            batch.collect().foreach(got.add)
          }
          .option("checkpointLocation", ckpt)
          .trigger(onceTrigger)
          .start()
        q.awaitTermination()
        import scala.jdk.CollectionConverters._
        got.asScala.toSeq
      }

      writeBatch(10.0)
      val r1 = drainOnce("ttl_r1")
      assert(r1.map(_.n) === Seq(1L), s"first drain: $r1")

      // within TTL: state survives the restart and accumulates
      writeBatch(20.0)
      val r2 = drainOnce("ttl_r2")
      assert(r2.map(_.n) === Seq(2L), s"within-TTL restart must accumulate: $r2")

      // past TTL: the store forgets the key; the next drain restarts at 1
      Thread.sleep(12000)
      writeBatch(30.0)
      val r3 = drainOnce("ttl_r3")
      assert(r3.map(_.n) === Seq(1L), s"state should have expired: $r3")
      assert(r3.head.total === 30.0)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("StatefulDedup.latestWinsTws with a TTL starts and emits the max-version row") {
    // TTL'd state needs the processing-time mode: under TimeMode.None any
    // TTL fails at state registration (StatefulProcessorCannotAssignTTLInTimeMode)
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    val srcDir = java.nio.file.Files.createTempDirectory("ttl-lw-src").toString
    val ckpt   = java.nio.file.Files.createTempDirectory("ttl-lw-ckpt").toString
    try {
      Seq(("k", 1L, "a"), ("k", 3L, "c"), ("k", 2L, "b")).toDF("key", "version", "name")
        .write.mode("append").parquet(srcDir)
      val got = new java.util.concurrent.CopyOnWriteArrayList[(String, Long, String)]()
      val src = spark.readStream
        .schema("key STRING, version BIGINT, name STRING")
        .parquet(srcDir)
        .as[(String, Long, String)]
      val q = StatefulDedup
        .latestWinsTws[String, (String, Long, String)](src, _._1, _._2, ttl = TTLConfig(Duration.ofSeconds(10)))
        .writeStream.queryName("ttl_lw").outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[(String, Long, String)], _: Long) =>
          batch.collect().foreach(got.add)
        }
        .option("checkpointLocation", ckpt)
        .trigger(onceTrigger)
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSeq === Seq(("k", 3L, "c")))
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
