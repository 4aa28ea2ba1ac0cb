package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 42: the moment-merge identity as data
  * (completing the mergeable-summaries certification family: counts are
  * trivially mergeable, KMV proved lossless in B211, here the
  * (n, Σx, Σx²) moment triple) and PSI — the industry-standard drift
  * score beside B98's L1 distance and B224's KS.
  */
object QueriesExt49 {

  // --------------------------- moment-merge identity (B227)

  /** The partial-aggregation identity for second-moment statistics AS
    * DATA: per event type, the (n, Σx, Σx²) triple computed by merging
    * PER-DAY partial triples is bit-identical to the triple computed in
    * one global pass — because the inputs are integer-snapped millis
    * and BIGINT addition is associative and commutative, which is
    * EXACTLY the property float accumulation lacks (float Σx² changes
    * with partition order; the snap makes the identity exact, the same
    * discipline as B184/B192). `merge_lossless` certifies it per type.
    * Milli-unit snap, not micro: Σx² must fit a BIGINT, and with values
    * ≤ ~10³ the milli square is ≤ ~10¹², leaving room for ~10⁶ rows per
    * type per 10⁶ headroom — ~10 B rows per type before the bound; the
    * oracle's HUGEINT→BIGINT cast fails LOUDLY past it, never silently.
    * This is the identity that lets 100 TB maintain daily stats
    * partials and roll them up at any tree depth — mean/variance/z
    * thresholds derived downstream, never re-scanning history.
    *
    * Scale shape: the daily path is a (type, day) map-side agg + a
    * types×days-bounded rollup; the global path is one map-side agg.
    * Both shuffles carry bounded triples, never rows.
    */
  private def eventsMomentsMergeDaily(s: SparkSession, dir: String): DataFrame = {
    val snapped = events(s, dir)
      .select(
        col("event_type"),
        to_date(col("ts")).as("day"),
        round(col("value") * 1000).cast("long").as("v")
      )
    val daily = snapped
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"), sum(col("v") * col("v")).as("s2"))
    val merged = daily
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("n")).as("n_merged"),
        sum(col("s1")).as("s1_merged"),
        sum(col("s2")).as("s2_merged")
      )
    val global = snapped
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_global"), sum(col("v")).as("s1_global"), sum(col("v") * col("v")).as("s2_global"))
    merged
      .join(global, Seq("event_type"))
      .select(
        col("event_type"),
        col("n_days"),
        col("n_merged"),
        col("s1_merged"),
        col("s2_merged"),
        when(
          col("n_merged") === col("n_global") &&
            col("s1_merged") === col("s1_global") &&
            col("s2_merged") === col("s2_global"),
          lit(1L)
        ).otherwise(lit(0L)).as("merge_lossless")
      )
  }

  private val eventsMomentsMergeDailySql =
    """WITH snapped AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(round(value * 1000) AS BIGINT) AS v
      |  FROM events),
      |daily AS (
      |  SELECT event_type, day, count(*) AS n,
      |    CAST(sum(v) AS BIGINT) AS s1, CAST(sum(v * v) AS BIGINT) AS s2
      |  FROM snapped GROUP BY 1, 2),
      |merged AS (
      |  SELECT event_type, count(*) AS n_days,
      |    CAST(sum(n) AS BIGINT) AS n_merged,
      |    CAST(sum(s1) AS BIGINT) AS s1_merged,
      |    CAST(sum(s2) AS BIGINT) AS s2_merged
      |  FROM daily GROUP BY 1),
      |gstats AS (
      |  SELECT event_type, count(*) AS n_global,
      |    CAST(sum(v) AS BIGINT) AS s1_global, CAST(sum(v * v) AS BIGINT) AS s2_global
      |  FROM snapped GROUP BY 1)
      |SELECT m.event_type, m.n_days, m.n_merged, m.s1_merged, m.s2_merged,
      |  CAST(m.n_merged = g.n_global AND m.s1_merged = g.s1_global
      |    AND m.s2_merged = g.s2_global AS BIGINT) AS merge_lossless
      |FROM merged m JOIN gstats g ON g.event_type = m.event_type""".stripMargin

  // --------------------------- PSI drift (B228)

  /** Population Stability Index per event type vs the pooled rest, on
    * B201's HDR bucket grid — the third drift lens beside B98 (L1: how
    * much mass moved) and B224 (KS: where the CDFs diverge most): PSI
    * weights each bucket's move by the log-ratio, so it amplifies
    * tail buckets that gained or lost share. Standard practice reads
    * PSI < 0.1 as stable, > 0.25 as shifted; emitted in micro-units.
    * Zero-count cells use the conventional 1-count floor (both engines
    * identical), and the per-bucket ln is snapped to micro-nats BEFORE
    * the weighted sum (B184 discipline) so the aggregate is plan-order
    * exact.
    *
    * Scale shape: one (type, bucket) map-side count; everything after
    * runs on the ≤ types × 1024 grid.
    */
  private def eventsPsiDrift(s: SparkSession, dir: String): DataFrame = {
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
    val perType   = bucketed.groupBy(col("event_type"), col("b")).agg(count(lit(1)).as("c"))
    val perBucket = bucketed.groupBy(col("b")).agg(count(lit(1)).as("g"))
    val types     = perType.select(col("event_type")).distinct()
    val grid = types
      .crossJoin(perBucket)
      .join(perType, Seq("event_type", "b"), "left")
      .select(col("event_type"), col("b"), col("g"), coalesce(col("c"), lit(0L)).as("c"))
      .withColumn("r", col("g") - col("c")) // the pooled rest's count
    val wt = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    grid
      .withColumn("n1", sum(col("c")).over(wt))
      .withColumn("n2", sum(col("r")).over(wt))
      // 1-count floor on empty cells, then integer shares in ppm
      .withColumn("p_ppm", expr("greatest(c, 1L) * 1000000 div n1"))
      .withColumn("q_ppm", expr("greatest(r, 1L) * 1000000 div n2"))
      .withColumn(
        "term_micro",
        expr(
          """(p_ppm - q_ppm) *
            |CAST(round(round(ln(CAST(p_ppm AS DOUBLE) / CAST(q_ppm AS DOUBLE)), 6) * 1000000) AS BIGINT)
            |div 1000000""".stripMargin
        )
      )
      .groupBy(col("event_type"))
      .agg(
        max(col("n1")).as("n_type"),
        max(col("n2")).as("n_rest"),
        count(lit(1)).as("n_buckets"),
        sum(col("term_micro")).as("psi_micro")
      )
  }

  private val eventsPsiDriftSql =
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
      |  SELECT t.event_type, p.b, p.g, coalesce(x.c, 0) AS c, p.g - coalesce(x.c, 0) AS r
      |  FROM ty t CROSS JOIN pb p
      |  LEFT JOIN pt x ON x.event_type = t.event_type AND x.b = p.b),
      |tot AS (
      |  SELECT event_type, b, c, r,
      |    sum(c) OVER (PARTITION BY event_type) AS n1,
      |    sum(r) OVER (PARTITION BY event_type) AS n2
      |  FROM grid),
      |shares AS (
      |  SELECT event_type, n1, n2,
      |    greatest(c, 1) * 1000000 // n1 AS p_ppm,
      |    greatest(r, 1) * 1000000 // n2 AS q_ppm
      |  FROM tot),
      |terms AS (
      |  SELECT event_type, n1, n2,
      |    (p_ppm - q_ppm) *
      |      CAST(round(round(ln(p_ppm::DOUBLE / q_ppm::DOUBLE), 6) * 1000000) AS BIGINT)
      |      // 1000000 AS term_micro
      |  FROM shares)
      |SELECT event_type,
      |  CAST(max(n1) AS BIGINT) AS n_type,
      |  CAST(max(n2) AS BIGINT) AS n_rest,
      |  count(*) AS n_buckets,
      |  CAST(sum(term_micro) AS BIGINT) AS psi_micro
      |FROM terms GROUP BY 1""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_moments_merge_daily", Seq("B227"), eventsMomentsMergeDaily, eventsMomentsMergeDailySql),
    QuerySpec("events_psi_drift", Seq("B228"), eventsPsiDrift, eventsPsiDriftSql)
  )
}
