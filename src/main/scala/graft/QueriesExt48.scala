package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 41: distribution-drift detection (two-sample
  * KS on the bounded HDR bucket grid — B98's L1 histogram distance says
  * "how much mass moved", KS says "where the CDFs diverge most", the
  * statistic with a distribution-free test behind it) and change-POINT
  * detection (CUSUM argmax — B23 flags anomalous days, this finds the
  * day the regime shifted).
  */
object QueriesExt48 {

  // --------------------------- two-sample KS drift (B224)

  /** Per event type: the Kolmogorov–Smirnov D between the type's value
    * distribution and the pooled REST of the stream, computed on B201's
    * HDR log-bucket grid — each sample's CDF is evaluated at bucket
    * boundaries, so D is exact for the bucketed distributions and
    * within one bucket's mass (≤ 1/16 relative value resolution) of the
    * raw-value D. The grid is what makes the statistic 100 TB-honest: a
    * raw two-sample KS needs a GLOBAL sort of pooled values (one
    * partition — the anti-pattern), the bucketed form needs one
    * (type, bucket) map-side count and windows over ≤1024-row
    * partitions. Emits D in ppm plus the bucket lower bound where the
    * gap peaks — the "where did it drift" diagnostic; ties resolve to
    * the smallest bucket on both engines.
    */
  private def eventsKsDrift(s: SparkSession, dir: String): DataFrame = {
    val snapped = events(s, dir)
      .select(col("event_type"), round(col("value") * 1000000).cast("long").as("v"))
      .select(
        col("event_type"),
        expr(
          """CASE WHEN v < 16 THEN v
            |ELSE (CAST(length(bin(v)) AS BIGINT) - 1) * 16 +
            |  (shiftright(v, CAST(length(bin(v)) AS INT) - 5) & 15) END""".stripMargin
        ).as("b")
      )
    val perType = snapped.groupBy(col("event_type"), col("b")).agg(count(lit(1)).as("c"))
    val perBucket = snapped.groupBy(col("b")).agg(count(lit(1)).as("g"))
    // grid: every (type, bucket-in-anyone's-data) cell, zero-filled — a
    // bucket the type never hits still moves the complement's CDF
    val types = perType.select(col("event_type")).distinct()
    val grid = types
      .crossJoin(perBucket)
      .join(perType, Seq("event_type", "b"), "left")
      .select(col("event_type"), col("b"), col("g"), coalesce(col("c"), lit(0L)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("b"))
    val wt = Window.partitionBy(col("event_type"))
    val cdf = grid
      .withColumn("cumA", sum(col("c")).over(w))
      .withColumn("cumAll", sum(col("g")).over(w))
      .withColumn("n1", sum(col("c")).over(wt))
      .withColumn("nTot", sum(col("g")).over(wt))
      .withColumn("gap", abs(expr("cumA * 1000000 div n1 - (cumAll - cumA) * 1000000 div (nTot - n1)")))
      .withColumn(
        "lb",
        expr("CASE WHEN b < 16 THEN b ELSE shiftleft(16 + CAST(b % 16 AS INT), CAST(b div 16 AS INT) - 4) END")
      )
    cdf
      .groupBy(col("event_type"))
      .agg(
        max(col("n1")).as("n_type"),
        (max(col("nTot")) - max(col("n1"))).as("n_rest"),
        max(col("gap")).as("d_ppm")
      )
      .join(
        cdf.groupBy(col("event_type")).agg(max(col("gap")).as("mg"))
          .join(cdf, Seq("event_type"))
          .filter(col("gap") === col("mg"))
          .groupBy(col("event_type"))
          .agg(min(col("lb")).as("peak_value_lb")),
        Seq("event_type")
      )
  }

  private val eventsKsDriftSql =
    """WITH snapped AS (
      |  SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
      |bk AS (
      |  SELECT event_type,
      |    CASE WHEN v < 16 THEN v
      |    ELSE (CAST(length(bin(v)) AS BIGINT) - 1) * 16 + ((v >> (length(bin(v)) - 5)) & 15) END AS b
      |  FROM snapped),
      |pt AS (SELECT event_type, b, count(*) AS c FROM bk GROUP BY 1, 2),
      |pb AS (SELECT b, count(*) AS g FROM bk GROUP BY 1),
      |ty AS (SELECT DISTINCT event_type FROM pt),
      |grid AS (
      |  SELECT t.event_type, p.b, p.g, coalesce(x.c, 0) AS c
      |  FROM ty t CROSS JOIN pb p
      |  LEFT JOIN pt x ON x.event_type = t.event_type AND x.b = p.b),
      |cdf AS (
      |  SELECT event_type, b, g, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY b) AS cumA,
      |    sum(g) OVER (PARTITION BY event_type ORDER BY b) AS cumAll,
      |    sum(c) OVER (PARTITION BY event_type) AS n1,
      |    sum(g) OVER (PARTITION BY event_type) AS nTot
      |  FROM grid),
      |gap AS (
      |  SELECT event_type, b, n1, nTot,
      |    abs(cumA * 1000000 // n1 - (cumAll - cumA) * 1000000 // (nTot - n1)) AS gap,
      |    CASE WHEN b < 16 THEN b ELSE (16 + b % 16) << (CAST(b // 16 AS INT) - 4) END AS lb
      |  FROM cdf),
      |agg AS (
      |  SELECT event_type, CAST(max(n1) AS BIGINT) AS n_type,
      |    CAST(max(nTot) - max(n1) AS BIGINT) AS n_rest,
      |    CAST(max(gap) AS BIGINT) AS d_ppm
      |  FROM gap GROUP BY 1),
      |peak AS (
      |  SELECT g.event_type, min(g.lb) AS peak_value_lb
      |  FROM gap g JOIN agg a ON a.event_type = g.event_type AND g.gap = a.d_ppm
      |  GROUP BY 1)
      |SELECT a.event_type, a.n_type, a.n_rest, a.d_ppm, p.peak_value_lb
      |FROM agg a JOIN peak p ON p.event_type = a.event_type""".stripMargin

  // --------------------------- CUSUM changepoint (B225)

  /** Per event type: the day the daily-volume regime SHIFTED, by CUSUM
    * argmax — S_i = Σ_{j≤i} (n·c_j − total), the n-scaled cumulative
    * deviation from the mean (scaling by n keeps every term an exact
    * BIGINT; no division until the final report). The day with max |S|
    * is the classic change-point estimate; B23's z-score flags which
    * days are anomalous, this says where to split the series. Ties
    * resolve to the earliest day. Emits the change day, the scaled
    * peak deviation, its sign (did volume step up or down after the
    * break), and per-side daily means ×1000 for the magnitude readout.
    *
    * Scale shape: (type, day) map-side count, then windows over the
    * calendar-bounded daily series — nothing grows with event volume.
    */
  private def eventsChangepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("d", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val wt = Window.partitionBy(col("event_type"))
    val w  = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val cusum = daily
      .withColumn("n", count(lit(1)).over(wt))
      .withColumn("total", sum(col("c")).over(wt))
      .withColumn("s", sum(col("c") * col("n") - col("total")).over(w))
      .withColumn("absS", abs(col("s")))
      .withColumn("cumC", sum(col("c")).over(w))
      .withColumn("rn", row_number().over(w))
    val peak = cusum
      .groupBy(col("event_type"))
      .agg(max(col("absS")).as("maxAbs"))
    cusum
      .join(peak, Seq("event_type"))
      .filter(col("absS") === col("maxAbs"))
      .withColumn("pick", row_number().over(Window.partitionBy(col("event_type")).orderBy(col("d"))))
      .filter(col("pick") === 1)
      .select(
        col("event_type"),
        col("n").as("n_days"),
        col("d").as("change_epoch_day"),
        col("maxAbs").as("peak_dev_scaled"),
        when(col("s") < 0, lit(-1L)).otherwise(lit(1L)).as("direction"),
        expr("cumC * 1000 div rn").as("mean_before_milli"),
        expr("CASE WHEN n = rn THEN 0 ELSE (total - cumC) * 1000 div (n - rn) END").as("mean_after_milli")
      )
  }

  private val eventsChangepointSql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1, 2),
      |dd AS (
      |  SELECT event_type, date_diff('day', DATE '1970-01-01', day) AS d, c FROM daily),
      |base AS (
      |  SELECT event_type, d, c,
      |    count(*) OVER (PARTITION BY event_type) AS n,
      |    sum(c) OVER (PARTITION BY event_type) AS total
      |  FROM dd),
      |cs AS (
      |  SELECT event_type, d, c, n, total,
      |    sum(c * n - total) OVER (PARTITION BY event_type ORDER BY d) AS s,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY d) AS cumC,
      |    row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
      |  FROM base),
      |pk AS (SELECT event_type, max(abs(s)) AS maxAbs FROM cs GROUP BY 1),
      |hit AS (
      |  SELECT c.*, p.maxAbs,
      |    row_number() OVER (PARTITION BY c.event_type ORDER BY c.d) AS pick
      |  FROM cs c JOIN pk p ON p.event_type = c.event_type AND abs(c.s) = p.maxAbs)
      |SELECT event_type,
      |  CAST(n AS BIGINT) AS n_days,
      |  CAST(d AS BIGINT) AS change_epoch_day,
      |  CAST(maxAbs AS BIGINT) AS peak_dev_scaled,
      |  CAST(CASE WHEN s < 0 THEN -1 ELSE 1 END AS BIGINT) AS direction,
      |  CAST(cumC * 1000 // rn AS BIGINT) AS mean_before_milli,
      |  CAST(CASE WHEN n = rn THEN 0 ELSE (total - cumC) * 1000 // (n - rn) END AS BIGINT) AS mean_after_milli
      |FROM hit WHERE pick = 1""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_ks_drift", Seq("B224"), eventsKsDrift, eventsKsDriftSql),
    QuerySpec("events_changepoint", Seq("B225"), eventsChangepoint, eventsChangepointSql)
  )
}
