package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 37: the HDR digest's error bound AS DATA —
  * B201 proves the ≤ 1/17 relative error by construction and by
  * ScalaCheck property; this query measures it against exact ranked
  * percentiles per group, the certification table an SRE reads before
  * trusting the digest for alerting thresholds.
  */
object QueriesExt44 {

  // --------------------------- digest vs exact percentiles (B213)

  /** Per-event-type p50/p90/p99 from B201's HDR log-bucket digest laid
    * BESIDE the exact ranked percentiles of the same snapped integer
    * micro-units, with the relative undershoot in ppm and a
    * within-bound flag: the digest reports the lower bound of the
    * bucket holding the ranked element, and lb ≤ v < lb·17/16, so every
    * err_ppm lands in [0, 58 824) BY CONSTRUCTION — this query is that
    * proof as a table, certified cross-engine (identical rank
    * convention `cum ≥ (q·n + q) div 100` on both sides).
    *
    * Scale shape: the digest side is B201's bounded (type × ≤1024
    * bucket) agg; the exact side (one partitioned sort per type) exists
    * ONLY for certification and would be dropped in production — which
    * is the entire point: at 100 TB the exact side costs a full
    * per-type sort, the digest side never grows past the bucket grid.
    */
  private def eventsDigestVsExact(s: SparkSession, dir: String): DataFrame = {
    val snapped = events(s, dir)
      .select(col("event_type"), round(col("value") * 1000000).cast("long").as("v"))
    // --- digest side (B201's bucket math verbatim)
    val digest = snapped
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
      .withColumn(
        "lb",
        expr("CASE WHEN b < 16 THEN b ELSE shiftleft(16 + CAST(b % 16 AS INT), CAST(b div 16 AS INT) - 4) END")
      )
      .withColumn("cum", sum(col("c")).over(Window.partitionBy(col("event_type")).orderBy(col("b"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n_events"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("lb"))).as("p50_digest"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("lb"))).as("p90_digest"),
        min(when(col("cum") >= expr("(99 * n + 99) div 100"), col("lb"))).as("p99_digest")
      )
    // --- exact side: the ranked element at the same rank convention
    val ranked = snapped
      .withColumn("rn", row_number().over(Window.partitionBy(col("event_type")).orderBy(col("v"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val exact = ranked
      .groupBy(col("event_type"))
      .agg(
        min(when(col("rn") === expr("(n + 1) div 2"), col("v"))).as("p50_exact"),
        min(when(col("rn") === expr("(9 * n + 9) div 10"), col("v"))).as("p90_exact"),
        min(when(col("rn") === expr("(99 * n + 99) div 100"), col("v"))).as("p99_exact")
      )
    def err(q: String) =
      expr(s"CAST((p${q}_exact - p${q}_digest) * 1000000 div p${q}_exact AS BIGINT)").as(s"p${q}_err_ppm")
    digest
      .join(exact, Seq("event_type"))
      .select(
        col("event_type"), col("n_events"),
        col("p50_digest"), col("p50_exact"), err("50"),
        col("p90_digest"), col("p90_exact"), err("90"),
        col("p99_digest"), col("p99_exact"), err("99")
      )
      .withColumn(
        "all_within_bound",
        when(
          col("p50_err_ppm").between(0, 58823) &&
            col("p90_err_ppm").between(0, 58823) &&
            col("p99_err_ppm").between(0, 58823),
          lit(1L)
        ).otherwise(lit(0L))
      )
  }

  private val eventsDigestVsExactSql =
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
      |  FROM lbd),
      |dig AS (
      |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
      |    min(CASE WHEN cum >= (n + 1) // 2 THEN lb END) AS p50_digest,
      |    min(CASE WHEN cum >= (9 * n + 9) // 10 THEN lb END) AS p90_digest,
      |    min(CASE WHEN cum >= (99 * n + 99) // 100 THEN lb END) AS p99_digest
      |  FROM cm GROUP BY 1),
      |rk AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM snapped),
      |ex AS (
      |  SELECT event_type,
      |    min(CASE WHEN rn = (n + 1) // 2 THEN v END) AS p50_exact,
      |    min(CASE WHEN rn = (9 * n + 9) // 10 THEN v END) AS p90_exact,
      |    min(CASE WHEN rn = (99 * n + 99) // 100 THEN v END) AS p99_exact
      |  FROM rk GROUP BY 1)
      |SELECT d.event_type, d.n_events,
      |  d.p50_digest, e.p50_exact,
      |  CAST((e.p50_exact - d.p50_digest) * 1000000 // e.p50_exact AS BIGINT) AS p50_err_ppm,
      |  d.p90_digest, e.p90_exact,
      |  CAST((e.p90_exact - d.p90_digest) * 1000000 // e.p90_exact AS BIGINT) AS p90_err_ppm,
      |  d.p99_digest, e.p99_exact,
      |  CAST((e.p99_exact - d.p99_digest) * 1000000 // e.p99_exact AS BIGINT) AS p99_err_ppm,
      |  CAST(
      |    (e.p50_exact - d.p50_digest) * 1000000 // e.p50_exact BETWEEN 0 AND 58823
      |    AND (e.p90_exact - d.p90_digest) * 1000000 // e.p90_exact BETWEEN 0 AND 58823
      |    AND (e.p99_exact - d.p99_digest) * 1000000 // e.p99_exact BETWEEN 0 AND 58823
      |  AS BIGINT) AS all_within_bound
      |FROM dig d JOIN ex e ON e.event_type = d.event_type""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_digest_vs_exact", Seq("B213"), eventsDigestVsExact, eventsDigestVsExactSql)
  )
}
