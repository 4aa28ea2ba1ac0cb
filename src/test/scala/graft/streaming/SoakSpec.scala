package graft.streaming

import org.apache.spark.sql.functions._

import graft.GraftSpecBase

/** Steady-state soak (r11 verdict, next-round #7): the parity specs prove
  * the streaming operators CORRECT; nothing proved them STABLE. Two
  * long-haul runs over the DSv2 generator (`graft-synthetic-events`,
  * whose MicroBatchStream chunks a deterministic id range by
  * `rowsPerBatch`, so AvailableNow yields an exact, repeatable batch
  * count):
  *
  *  1. the §3.1 CDC enrich pipeline (extract → broadcast lookup join →
  *     branch → success+DLQ parquet sinks) for 100+ micro-batches —
  *     batch duration must not grow with batch index (a leak in the
  *     foreachBatch path — persisted blocks, accumulated listeners,
  *     committer state — shows up as a monotone ramp long before it
  *     OOMs a real deployment);
  *  2. a watermarked windowed aggregation under the RocksDB state store
  *     for 100+ micro-batches — state row count must PLATEAU (watermark
  *     eviction keeps only live windows) rather than track batch count.
  *
  * Thresholds are deliberately loose (2.5× between first-quarter and
  * last-quarter medians; plateau within 1.5× of mid-run) — host noise on
  * a shared box is real, and the failure mode this guards against is a
  * RAMP, not jitter.
  */
class SoakSpec extends GraftSpecBase {

  private def median(xs: Seq[Long]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2).toDouble
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

  test("CDC pipeline soak: 100 micro-batches, batch duration does not ramp") {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "200")
    val batches = 100
    val perBatch = 1000L
    val src = spark.readStream
      .format("graft-synthetic-events")
      .option("rows", batches * perBatch)
      .option("users", 500)
      .option("rowsPerBatch", perBatch)
      .option("partitions", 4)
      .load()
    val env = graft.cdc.Envelope.synthesizeFromEvents(src)
    val q = Pipelines.startEnrichPipeline(
      "soak-pipeline",
      env,
      () => graft.Tables.customer(spark, sf()),
      "c_custkey",
      Seq("c_name", "c_mktsegment"),
      WorkDirs.fresh(spark, "soak-ok"),
      WorkDirs.fresh(spark, "soak-dlq"),
      WorkDirs.fresh(spark, "soak-ckpt")
    )
    q.awaitTermination()
    val durs = q.recentProgress.toSeq.filter(_.numInputRows > 0).map(_.batchDuration)
    assert(durs.size >= batches, s"expected >= $batches non-empty micro-batches, got ${durs.size}")
    val quarter = durs.size / 4
    val early   = median(durs.slice(quarter / 2, quarter + quarter / 2)) // skip cold start
    val late    = median(durs.takeRight(quarter))
    System.err.println(
      f"[soak] pipeline: ${durs.size} batches, early med ${early}%.0f ms, late med ${late}%.0f ms, " +
        s"curve=${durs.grouped(math.max(1, durs.size / 20)).map(g => median(g).toLong).mkString(",")}")
    assert(
      late <= early * 2.5 + 200,
      s"batch duration ramped: early median $early ms -> late median $late ms (leak in the micro-batch path)"
    )
  }

  test("watermarked window agg soak under RocksDB: state plateaus, no unbounded growth") {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "200")
    withRocksDB {
      val batches = 100
      val perBatch = 1000L
      val src = spark.readStream
        .format("graft-synthetic-events")
        .option("rows", batches * perBatch)
        .option("users", 50)
        .option("rowsPerBatch", perBatch)
        .option("partitions", 4)
        .load()
      // generator ts advances ~1 s per event_id, so each 1000-row batch
      // advances event time ~17 min: 10-min windows + a 10-min watermark
      // means old windows close every batch — live state is a bounded set
      // of (window × user) rows regardless of how long the stream runs
      val agg = src
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      val q = agg.writeStream
        .queryName("soak-state")
        .outputMode("append")
        .format("noop")
        .option("checkpointLocation", WorkDirs.fresh(spark, "soak-state-ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      assert(prog.size >= batches - 2, s"expected ~$batches micro-batches, got ${prog.size}")
      val stateRows = prog.map(_.stateOperators.map(_.numRowsTotal).sum)
      val mid  = stateRows.slice(stateRows.size / 4, stateRows.size / 2)
      val last = stateRows.takeRight(stateRows.size / 4)
      System.err.println(
        s"[soak] state rows: mid max ${mid.max}, last max ${last.max}, " +
          s"curve=${stateRows.grouped(math.max(1, stateRows.size / 20)).map(_.max).mkString(",")}")
      // plateau: the last quarter's peak must not exceed the mid-run peak
      // by more than 50% — unbounded state tracks batch index and would be
      // ~2x here (and 100x in a day-long run)
      assert(mid.max > 0, "state operator reported zero rows — the agg is not stateful?")
      assert(
        last.max <= mid.max * 1.5,
        s"state grew past plateau: mid-run peak ${mid.max} rows -> last-quarter peak ${last.max} rows"
      )
    }
  }
}
