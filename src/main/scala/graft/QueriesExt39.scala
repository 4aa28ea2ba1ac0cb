package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 33: the deterministic HDR-histogram
  * quantile digest — mergeable approximate percentiles with a PROVEN
  * error bound, the telemetry primitive exact percentiles can't give a
  * stream.
  */
object QueriesExt39 {

  // --------------------------- HDR quantile digest (B201)

  /** Per-event-type p50/p90/p99 via a fixed log-bucket (HDR-style)
    * histogram: values snap to integer micro-units, then bucket id =
    * 16·(bitlen−1) + the 4 mantissa bits after the leading 1 (tiny
    * v < 16 keep exact buckets). Within a bucket, values span
    * [lb, lb·(1+1/16)), so any reported percentile's relative error is
    * ≤ 6.25% by construction — and the histogram is a commutative
    * integer aggregate: mergeable across partitions, days, or streams
    * with NO order sensitivity, which exact percentiles fundamentally
    * are not. The oracle replays the identical integer bucket math in
    * SQL; no floating point crosses an aggregation boundary.
    *
    * Scale shape: one (type, bucket) map-side-combined count — key
    * space ≤ types × ~1024 buckets — then a per-type window over its
    * own ≤1024 bucket rows. Nothing grows with event count.
    */
  private def eventsLatencyDigest(s: SparkSession, dir: String): DataFrame = {
    val bucketed = events(s, dir)
      .select(col("event_type"), round(col("value") * 1000000).cast("long").as("v"))
      .select(
        col("event_type"),
        expr(
          """CASE WHEN v < 16 THEN v
            |ELSE (CAST(length(bin(v)) AS BIGINT) - 1) * 16 +
            |  (shiftright(v, CAST(length(bin(v)) AS INT) - 5) & 15) END""".stripMargin
        ).as("b")
      )
      .groupBy(col("event_type"), col("b"))
      .agg(count(lit(1)).as("c"))
      // bucket id → lower bound, exact integer reconstruction
      .withColumn(
        "lb",
        expr("CASE WHEN b < 16 THEN b ELSE shiftleft(16 + CAST(b % 16 AS INT), CAST(b div 16 AS INT) - 4) END")
      )
    val w = Window.partitionBy(col("event_type")).orderBy(col("b"))
    bucketed
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n_events"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("lb"))).as("p50_micro"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("lb"))).as("p90_micro"),
        min(when(col("cum") >= expr("(99 * n + 99) div 100"), col("lb"))).as("p99_micro")
      )
  }

  private val eventsLatencyDigestSql =
    """WITH snapped AS (
      |  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
      |bk AS (
      |  SELECT event_type,
      |    CASE WHEN v < 16 THEN v
      |    ELSE (CAST(length(bin(v)) AS BIGINT) - 1) * 16 + ((v >> (length(bin(v)) - 5)) & 15) END AS b
      |  FROM snapped),
      |cnt AS (SELECT event_type, b, count(*) AS c FROM bk GROUP BY 1, 2),
      |lbd AS (
      |  SELECT *, CASE WHEN b < 16 THEN b ELSE (16 + b % 16) << (CAST(b // 16 AS INT) - 4) END AS lb
      |  FROM cnt),
      |cm AS (
      |  SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY b) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM lbd)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
      |  min(CASE WHEN cum >= (n + 1) // 2 THEN lb END) AS p50_micro,
      |  min(CASE WHEN cum >= (9 * n + 9) // 10 THEN lb END) AS p90_micro,
      |  min(CASE WHEN cum >= (99 * n + 99) // 100 THEN lb END) AS p99_micro
      |FROM cm GROUP BY 1""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_latency_digest", Seq("B201"), eventsLatencyDigest, eventsLatencyDigestSql)
  )
}
