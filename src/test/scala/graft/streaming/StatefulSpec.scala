package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.GraftSpecBase

case class CdcRec(user_id: Long, version: Long, name: String)
case class Ev(ts: Timestamp, event_type: String, value: Double)

/** Streaming state operators: latest-wins dedup over flatMapGroupsWithState
  * (B2 streaming form) and the watermarked tumbling aggregation (B7).
  */
class StatefulSpec extends GraftSpecBase {
  import spark.implicits._

  test("streaming latest-wins emits only version advances per key") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[CdcRec]
    val out = StatefulDedup.latestWins[Long, CdcRec](input.toDS(), _.user_id, _.version)
    val q = out.writeStream.format("memory").queryName("lw").outputMode("append").start()

    input.addData(CdcRec(1, 10, "a"), CdcRec(1, 5, "stale"), CdcRec(2, 7, "x"))
    q.processAllAvailable()
    input.addData(CdcRec(1, 20, "b"), CdcRec(2, 7, "dup"), CdcRec(1, 15, "late"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("lw").as[CdcRec].collect().sortBy(r => (r.user_id, r.version))
    assert(rows.toSeq === Seq(CdcRec(1, 10, "a"), CdcRec(1, 20, "b"), CdcRec(2, 7, "x")))
  }

  test("watermarked tumbling window closes and emits once in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val agg = graft.operators.EventAnalytics.streamingTumblingHourly(input.toDF(), "10 minutes")
    val q = agg.writeStream.format("memory").queryName("tw").outputMode("append").start()

    val h1 = Timestamp.valueOf("2024-01-01 01:15:00")
    val h1b = Timestamp.valueOf("2024-01-01 01:45:00")
    input.addData(Ev(h1, "click", 1.0), Ev(h1b, "click", 2.0))
    q.processAllAvailable()
    assert(spark.table("tw").count() === 0)   // window still open

    // event far past hour 1 advances the watermark beyond 02:00 + 10min
    input.addData(Ev(Timestamp.valueOf("2024-01-01 03:30:00"), "view", 5.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("tw")
      .select("window_start_ms", "event_type", "n_events", "sum_value")
      .as[(Long, String, Long, Double)].collect()
    val h1WindowMs = Timestamp.valueOf("2024-01-01 01:00:00").getTime
    assert(rows.toSeq === Seq((h1WindowMs, "click", 2L, 3.0)))
  }

  test("latest-wins state runs on the RocksDB store with identical semantics") {
    // backend parity: the same flatMapGroupsWithState logic over the
    // RocksDB provider (the 100 TB state path — SSD-spilled, bounded
    // memory) must emit exactly what the default heap-backed store does
    implicit val sqlCtx = spark.sqlContext
    withRocksDB {
      val input = MemoryStream[CdcRec]
      val out = StatefulDedup.latestWins[Long, CdcRec](input.toDS(), _.user_id, _.version)
      val q = out.writeStream.format("memory").queryName("lw_rocks").outputMode("append").start()

      input.addData(CdcRec(1, 10, "a"), CdcRec(1, 5, "stale"), CdcRec(2, 7, "x"))
      q.processAllAvailable()
      input.addData(CdcRec(1, 20, "b"), CdcRec(2, 7, "dup"), CdcRec(1, 15, "late"))
      q.processAllAvailable()

      // the run really went through RocksDB: the state operator reports
      // rocksdb-prefixed custom metrics (absent on the HDFS-backed store)
      val metrics = q.lastProgress.stateOperators(0).customMetrics
      assert(metrics.keySet().stream().anyMatch(_.startsWith("rocksdb")),
        s"no rocksdb metrics in ${metrics.keySet()}")
      q.stop()

      val rows = spark.table("lw_rocks").as[CdcRec].collect().sortBy(r => (r.user_id, r.version))
      assert(rows.toSeq === Seq(CdcRec(1, 10, "a"), CdcRec(1, 20, "b"), CdcRec(2, 7, "x")))
    }
    // conf restored: the backend choice does not leak into later suites
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass").isEmpty ||
      !spark.conf.get("spark.sql.streaming.stateStore.providerClass").contains("RocksDB"))
  }

  test("decodeOrDlq splits well-formed and corrupt frames (A13)") {
    import org.apache.spark.sql.functions._
    import graft.sources.{ConfluentWire, KafkaCdc}
    import org.apache.spark.sql.types._

    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val good = """{"id": 1, "name": "ok"}""".getBytes("UTF-8")
    val raw = Seq(
      (Array[Byte](1), good, true),            // will be framed -> decodes
      (Array[Byte](2), "not json".getBytes("UTF-8"), true),  // framed but undecodable
      (Array[Byte](3), good, false)            // unframed -> malformed header
    ).toDF("key", "body", "frame")
      .select(
        col("key"),
        when(col("frame"), ConfluentWire.frame(col("body"), 7)).otherwise(col("body")).as("value")
      )

    val (decoded, corrupt) = KafkaCdc.decodeOrDlq(raw, schema)
    assert(decoded.select("value.id").collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(corrupt.count() === 2)
  }
}
