package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-stream analytics (SURVEY.md §2 B7) in their batch form — the
  * streaming twins live in graft.streaming and share these column
  * expressions so batch and stream compute identical results.
  *
  * Event timestamps are nanosecond-precision in the fixture parquet;
  * every ordering/grouping here first truncates to epoch milliseconds so
  * results are stable across engines with different sub-ms precision.
  */
object EventAnalytics {

  /** Event time truncated to epoch millis — the canonical order key. */
  def tsMillis(c: Column): Column = unix_millis(c)

  /** Tumbling-window aggregate: per (window_start, event_type) count, sum,
    * rounded avg. `windowExpr` example: date_trunc("hour", col("ts")).
    */
  def tumbling(events: DataFrame, trunc: String): DataFrame =
    events
      .groupBy(
        unix_millis(date_trunc(trunc, col("ts"))).as("window_start_ms"),
        col("event_type")
      )
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        round(avg(col("value")), 6).as("avg_value")
      )

  /** B7 streaming twin of `tumbling`: watermarked hourly windows in append
    * mode — late events beyond the watermark are dropped, closed windows
    * emit exactly once. Identical column contract to the batch form so the
    * two are interchangeable downstream.
    */
  def streamingTumblingHourly(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("sum_value")
      )
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"),
        col("n_events"),
        col("sum_value")
      )

  /** Session windows via the native session_window function — the
    * streaming-capable form of `sessionize` (works under a watermark in
    * append mode; state is merged session ranges, not per-event rows).
    * Event times are truncated to millis first so an engine comparing at
    * different sub-ms precision draws identical session boundaries.
    * A new session starts when the gap is >= the gap duration.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts_ms", timestamp_millis(unix_millis(col("ts"))))
      .groupBy(session_window(col("ts_ms"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("sum_value"))
      .select(
        col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        col("n_events"),
        col("sum_value")
      )

  /** Distinct users per hour. */
  def hourlyUsers(events: DataFrame): DataFrame =
    events
      .groupBy(unix_millis(date_trunc("hour", col("ts"))).as("window_start_ms"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapMs`. Returns per-user
    * session counts and bounds. One shuffle on user_id; the window sort is
    * the standard sessionize shape (a stream would run Spark's
    * `session_window` aggregation under a watermark; no streaming twin
    * ships).
    */
  def sessionize(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("event_id"), tsMillis(col("ts")).as("ms"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn(
        "new_session",
        when(col("prev_ms").isNull || (col("ms") - col("prev_ms")) > gapMs, lit(1L)).otherwise(lit(0L))
      )
      .groupBy(col("user_id"))
      .agg(
        sum(col("new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        min(col("ms")).as("first_ms"),
        max(col("ms")).as("last_ms")
      )
  }
}
