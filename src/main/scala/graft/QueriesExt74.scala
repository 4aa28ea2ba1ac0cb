package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-11 additions, batch 48: production sessionization semantics —
  * inactivity gap AND max-duration cap together (B270). B7/B153
  * sessionize on the gap alone; real pipelines also split marathon
  * sessions (bots, left-open tabs, TV dashboards) so downstream
  * per-session aggregates stay bounded.
  */
object QueriesExt74 {

  /** Gap + cap sessionization (`q_session_cap_split`): sessions close
    * after 30 min of inactivity OR at 4 h of cumulative duration —
    * the second rule splits a gap-session into fixed 4 h subsessions
    * anchored at its first event (elapsed div cap), the deterministic
    * variant of "force a session boundary at the cap". Per user:
    * gap-only session count, post-cap session count (≥ gap-only by
    * construction), events, and the longest session under each rule —
    * the table that shows what the cap actually changes (only
    * marathon users split; `longest_capped_ms` < 4 h everywhere).
    *
    * Scale shape: one per-user lag window (partitioned, never global)
    * for the gap flag + running sum for the session id; the cap is
    * row-local arithmetic against the session's min-over-window; two
    * grouped aggs (user×session → user). Nothing after the window
    * grows beyond (user, session) cardinality.
    */
  private def qSessionCapSplit(s: SparkSession, dir: String): DataFrame = {
    val gapMs = 1800000L  // 30 min inactivity
    val capMs = 14400000L // 4 h duration cap
    val wOrd  = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val base = events(s, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("delta", col("ms") - lag(col("ms"), 1).over(wOrd))
      .withColumn("new_s", when(col("delta").isNull || col("delta") > gapMs, 1L).otherwise(0L))
      .withColumn("gsid", sum(col("new_s")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy(col("user_id"), col("gsid"))
    val sub = base
      .withColumn("s_start", min(col("ms")).over(wSess))
      .withColumn("sub", expr(s"(ms - s_start) div ${capMs}L"))
    val perSession = sub
      .groupBy(col("user_id"), col("gsid"), col("sub"))
      .agg(count(lit(1)).as("n_ev"), (max(col("ms")) - min(col("ms"))).as("dur_ms"))
    val perGap = sub
      .groupBy(col("user_id"), col("gsid"))
      .agg((max(col("ms")) - min(col("ms"))).as("gdur_ms"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions_gap_only"), max(col("gdur_ms")).as("longest_gap_ms"))
    perSession
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions_capped"),
        sum(col("n_ev")).as("n_events"),
        max(col("dur_ms")).as("longest_capped_ms"))
      .join(perGap, Seq("user_id"))
      .select(
        col("user_id"),
        col("n_sessions_gap_only"),
        col("n_sessions_capped"),
        (col("n_sessions_capped") - col("n_sessions_gap_only")).as("n_cap_splits"),
        col("n_events"),
        col("longest_gap_ms"),
        col("longest_capped_ms"))
  }

  private val qSessionCapSplitSql =
    """WITH base AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS delta
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)),
      |flagged AS (
      |  SELECT *, CASE WHEN delta IS NULL OR delta > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM base),
      |gs AS (
      |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gsid
      |  FROM flagged),
      |sub AS (
      |  SELECT *, (ms - min(ms) OVER (PARTITION BY user_id, gsid)) // 14400000 AS sub
      |  FROM gs),
      |per_session AS (
      |  SELECT user_id, gsid, sub, count(*) AS n_ev, max(ms) - min(ms) AS dur_ms
      |  FROM sub GROUP BY 1, 2, 3),
      |per_gap AS (
      |  SELECT user_id, count(*) AS n_sessions_gap_only, max(gdur_ms) AS longest_gap_ms
      |  FROM (SELECT user_id, gsid, max(ms) - min(ms) AS gdur_ms FROM sub GROUP BY 1, 2)
      |  GROUP BY 1),
      |per_user AS (
      |  SELECT user_id, count(*) AS n_sessions_capped, CAST(sum(n_ev) AS BIGINT) AS n_events,
      |    max(dur_ms) AS longest_capped_ms
      |  FROM per_session GROUP BY 1)
      |SELECT u.user_id, g.n_sessions_gap_only, u.n_sessions_capped,
      |  u.n_sessions_capped - g.n_sessions_gap_only AS n_cap_splits,
      |  u.n_events, g.longest_gap_ms, u.longest_capped_ms
      |FROM per_user u JOIN per_gap g ON g.user_id = u.user_id""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_session_cap_split", Seq("B270"), qSessionCapSplit, qSessionCapSplitSql)
  )
}
