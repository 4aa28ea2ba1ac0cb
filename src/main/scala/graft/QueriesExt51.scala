package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 44: the model-eval lift/gain table —
  * ranking quality of a score (here: user activity value) against a
  * binary outcome (did the user purchase), the staple chart every
  * targeting/propensity pipeline reads before shipping a model.
  */
object QueriesExt51 {

  // --------------------------- lift table (B232)

  /** User-level lift table: users are bucketed by the bit-length of
    * their total event value (the scan-local bucketing discipline —
    * a decile ntile would need a GLOBAL sort; bit-length buckets are
    * computed per row and preserve the monotone ordering a lift chart
    * needs), and each bucket reports its purchase-conversion rate, the
    * lift vs the overall rate (milli-units), and the cumulative gain
    * from the top bucket down (what % of all converters live in the
    * top-k buckets — the gain curve). A useful score concentrates
    * converters in the high buckets: lift >> 1000 up top, ~0 at the
    * bottom.
    *
    * Scale shape: one (user) rollup of the events scan (map-side
    * combined sum + max), then a ≤64-bucket aggregate with a 1-row
    * totals broadcast and a cumulative window over ≤64 rows. Nothing
    * after the first rollup grows with event volume.
    */
  private def eventsLiftTable(s: SparkSession, dir: String): DataFrame = {
    val perUser = events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(expr("CAST(round(value * 1000) AS BIGINT)")).as("total_milli"),
        max(when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L))).as("converted")
      )
      .withColumn("bucket", expr("CAST(length(bin(greatest(total_milli, 0L))) AS BIGINT)"))
    val byBucket = perUser
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_converted"))
    val tot = byBucket.agg(
      sum(col("n_users")).as("t_users"),
      sum(col("n_converted")).as("t_converted")
    )
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    byBucket
      .crossJoin(broadcast(tot))
      .withColumn("conv_rate_ppm", expr("n_converted * 1000000 div n_users"))
      .withColumn(
        "lift_milli",
        expr("CASE WHEN t_converted = 0 THEN 0L ELSE n_converted * t_users * 1000 div (n_users * t_converted) END")
      )
      .withColumn("cum_converted", sum(col("n_converted")).over(w))
      .withColumn(
        "cum_gain_ppm",
        expr("CASE WHEN t_converted = 0 THEN 0L ELSE cum_converted * 1000000 div t_converted END")
      )
      .select(
        col("bucket"), col("n_users"), col("n_converted"),
        col("conv_rate_ppm"), col("lift_milli"), col("cum_gain_ppm")
      )
  }

  private val eventsLiftTableSql =
    """WITH pu AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS total_milli,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY 1),
      |bb AS (
      |  SELECT CAST(length(bin(greatest(total_milli, 0))) AS BIGINT) AS bucket,
      |    count(*) AS n_users, CAST(sum(converted) AS BIGINT) AS n_converted
      |  FROM pu GROUP BY 1),
      |t AS (
      |  SELECT CAST(sum(n_users) AS BIGINT) AS t_users,
      |    CAST(sum(n_converted) AS BIGINT) AS t_converted FROM bb),
      |c AS (
      |  SELECT b.*, t.t_users, t.t_converted,
      |    sum(b.n_converted) OVER (ORDER BY b.bucket DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_converted
      |  FROM bb b, t)
      |SELECT bucket, n_users, n_converted,
      |  n_converted * 1000000 // n_users AS conv_rate_ppm,
      |  CASE WHEN t_converted = 0 THEN 0
      |    ELSE n_converted * t_users * 1000 // (n_users * t_converted) END AS lift_milli,
      |  CASE WHEN t_converted = 0 THEN 0
      |    ELSE CAST(cum_converted AS BIGINT) * 1000000 // t_converted END AS cum_gain_ppm
      |FROM c""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_lift_table", Seq("B232"), eventsLiftTable, eventsLiftTableSql)
  )
}
