package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 47: the forecasting-baseline backtest —
  * before any model earns a place in capacity planning it must beat
  * naive (tomorrow = today) and seasonal-naive (tomorrow = same day
  * last week); this emits those two bars.
  */
object QueriesExt54 {

  // --------------------------- forecast baselines (B236)

  /** One-step-ahead backtest of the two standard forecasting baselines
    * on the per-type daily event-count series: `naive` predicts
    * yesterday's count, `snaive` predicts the count 7 days earlier.
    * Evaluated on every day where both predictions exist, reporting
    * MAE (milli) and MAPE (ppm, zero-actual days skipped in the
    * denominator convention: MAPE sums |err|/actual only over days
    * with actual > 0) plus which baseline wins per type. Any proposed
    * model that can't beat the winning column here is noise — the
    * backtest bar every forecasting pipeline needs in-engine, next to
    * the trend (B67/B215) and changepoint (B225) views of the same
    * series.
    *
    * Scale shape: (type, day) map-side count, two lag windows over the
    * calendar-bounded series, one rollup per type — nothing grows with
    * event volume.
    */
  private def eventsForecastBaseline(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("d", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val preds = daily
      .withColumn("p_naive", lag(col("c"), 1).over(w))
      .withColumn("p_snaive", lag(col("c"), 7).over(w))
      .filter(col("p_naive").isNotNull && col("p_snaive").isNotNull)
    preds
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_eval_days"),
        expr("sum(abs(c - p_naive)) * 1000 div count(1)").as("naive_mae_milli"),
        expr("sum(abs(c - p_snaive)) * 1000 div count(1)").as("snaive_mae_milli"),
        expr("sum(CASE WHEN c > 0 THEN abs(c - p_naive) * 1000000 div c ELSE 0L END) div sum(CASE WHEN c > 0 THEN 1L ELSE 0L END)")
          .as("naive_mape_ppm"),
        expr("sum(CASE WHEN c > 0 THEN abs(c - p_snaive) * 1000000 div c ELSE 0L END) div sum(CASE WHEN c > 0 THEN 1L ELSE 0L END)")
          .as("snaive_mape_ppm")
      )
      .withColumn(
        "best_baseline",
        when(col("snaive_mae_milli") < col("naive_mae_milli"), lit("snaive")).otherwise(lit("naive"))
      )
  }

  private val eventsForecastBaselineSql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1, 2),
      |dd AS (
      |  SELECT event_type, date_diff('day', DATE '1970-01-01', day) AS d, c FROM daily),
      |pr AS (
      |  SELECT event_type, c,
      |    lag(c, 1) OVER (PARTITION BY event_type ORDER BY d) AS p_naive,
      |    lag(c, 7) OVER (PARTITION BY event_type ORDER BY d) AS p_snaive
      |  FROM dd),
      |ev AS (SELECT * FROM pr WHERE p_naive IS NOT NULL AND p_snaive IS NOT NULL),
      |agg AS (
      |  SELECT event_type,
      |    count(*) AS n_eval_days,
      |    CAST(sum(abs(c - p_naive)) AS BIGINT) * 1000 // count(*) AS naive_mae_milli,
      |    CAST(sum(abs(c - p_snaive)) AS BIGINT) * 1000 // count(*) AS snaive_mae_milli,
      |    CAST(sum(CASE WHEN c > 0 THEN abs(c - p_naive) * 1000000 // c ELSE 0 END) AS BIGINT)
      |      // CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS naive_mape_ppm,
      |    CAST(sum(CASE WHEN c > 0 THEN abs(c - p_snaive) * 1000000 // c ELSE 0 END) AS BIGINT)
      |      // CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) AS snaive_mape_ppm
      |  FROM ev GROUP BY 1)
      |SELECT *,
      |  CASE WHEN snaive_mae_milli < naive_mae_milli THEN 'snaive' ELSE 'naive' END AS best_baseline
      |FROM agg""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_forecast_baseline", Seq("B236"), eventsForecastBaseline, eventsForecastBaselineSql)
  )
}
