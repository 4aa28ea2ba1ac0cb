package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-12 additions, batch 55 (B293): timestamp-quality audit. */
object QueriesExt81 {

  /** `events_ts_quality` — the timestamp-truncation detector: per event
    * type, the fraction of event times landing EXACTLY on second /
    * minute / day boundaries plus the epoch-zero count. Healthy
    * high-resolution streams put ~1/1000 of events on a second boundary
    * and ~0 on midnight; a producer that silently truncates to seconds
    * (or a parser that defaults bad rows to epoch 0 / 00:00) shows up
    * here as a spike long before any window aggregate looks wrong —
    * the cheap ingest gate that catches the bug class B191's lateness
    * profile can't (truncation preserves order). All integer ratios.
    *
    * Scale shape: row-local modulus arithmetic fused into the scan; one
    * type-bounded map-side-combined agg.
    */
  private def eventsTsQuality(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .select(col("event_type"), expr("unix_millis(ts)").as("ms"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("sum(CAST(ms % 1000 = 0 AS BIGINT)) * 1000000 div count(1)").as("sec_aligned_ppm"),
        expr("sum(CAST(ms % 60000 = 0 AS BIGINT)) * 1000000 div count(1)").as("min_aligned_ppm"),
        expr("sum(CAST(ms % 86400000 = 0 AS BIGINT)) * 1000000 div count(1)").as("midnight_ppm"),
        sum(expr("CAST(ms = 0 AS BIGINT)")).as("n_epoch_zero"),
        min(col("ms")).as("min_ms"),
        max(col("ms")).as("max_ms"))
  }

  private val eventsTsQualitySql =
    """WITH x AS (SELECT event_type, epoch_ms(ts) AS ms FROM events)
      |SELECT event_type, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN ms % 1000 = 0 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
      |    AS sec_aligned_ppm,
      |  CAST(sum(CASE WHEN ms % 60000 = 0 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
      |    AS min_aligned_ppm,
      |  CAST(sum(CASE WHEN ms % 86400000 = 0 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
      |    AS midnight_ppm,
      |  CAST(sum(CASE WHEN ms = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_epoch_zero,
      |  min(ms) AS min_ms,
      |  max(ms) AS max_ms
      |FROM x GROUP BY 1""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_ts_quality", Seq("B293"), eventsTsQuality, eventsTsQualitySql)
  )
}
