package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-13 additions, batch 56 (B294–B297): seasonal anomaly scoring,
  * the watermark→correctness bridge, debounce-gap pricing, and the
  * optimizer-trust selectivity audit.
  */
object QueriesExt82 {

  // ----------------------- seasonal (hour-of-day) anomaly (B294)

  /** `events_seasonal_anomaly` — B23's z-scores with the seasonality
    * removed: every hourly count is scored against the moments of ITS OWN
    * (event_type, hour-of-day) slot rather than the type's global
    * distribution, so a 3 a.m. lull or a lunchtime spike that happens
    * every day stops paging anyone and a 3 a.m. SPIKE still does. The
    * complement of B119 (which decomposes the daily series but flags
    * nothing) and B23 (which flags against season-blind moments).
    * Moments are exact integer sums (n, Σx, Σx²) — never Welford; the
    * z-score is one rounded double per row, B23's discipline.
    *
    * Scale shape: hours-bounded hourly table (one map-side agg from the
    * log), (type × 24)-bounded stats table broadcast back — the corpus
    * never shuffles twice.
    */
  private def eventsSeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .select(col("event_type"), expr("unix_millis(ts) div 3600000").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("hod", expr("hour % 24"))
    val stats = hourly
      .groupBy(col("event_type"), col("hod"))
      .agg(
        count(lit(1)).as("n_slots"),
        sum(col("cnt")).as("s1"),
        sum(col("cnt") * col("cnt")).as("s2"))
    hourly
      .join(broadcast(stats), Seq("event_type", "hod"))
      .select(
        col("event_type"),
        (col("hour") * 3600000).as("hour_ms"),
        col("hod"),
        col("cnt"),
        when(col("n_slots") * col("s2") === col("s1") * col("s1"), lit(0.0))
          .otherwise(
            round(
              (col("cnt").cast("double") - col("s1").cast("double") / col("n_slots")) /
                (sqrt((col("n_slots") * col("s2") - col("s1") * col("s1")).cast("double")) / col("n_slots")),
              6))
          .as("z_score"))
      .withColumn("is_anomaly", abs(col("z_score")) >= 2.0)
  }

  private val eventsSeasonalAnomalySql =
    """WITH hourly AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hour, count(*) AS cnt
      |                FROM events GROUP BY 1, 2),
      |h2 AS (SELECT *, hour % 24 AS hod FROM hourly),
      |st AS (SELECT event_type, hod, count(*) AS n_slots, CAST(sum(cnt) AS BIGINT) AS s1,
      |              CAST(sum(cnt*cnt) AS BIGINT) AS s2 FROM h2 GROUP BY 1, 2)
      |SELECT h.event_type, h.hour * 3600000 AS hour_ms, h.hod, h.cnt,
      |  CASE WHEN n_slots * s2 = s1 * s1 THEN 0.0
      |       ELSE round((h.cnt::DOUBLE - s1::DOUBLE / n_slots) /
      |                  (sqrt((n_slots * s2 - s1 * s1)::DOUBLE) / n_slots), 6) END AS z_score,
      |  abs(CASE WHEN n_slots * s2 = s1 * s1 THEN 0.0
      |       ELSE round((h.cnt::DOUBLE - s1::DOUBLE / n_slots) /
      |                  (sqrt((n_slots * s2 - s1 * s1)::DOUBLE) / n_slots), 6) END) >= 2.0 AS is_anomaly
      |FROM h2 h JOIN st USING (event_type, hod)""".stripMargin

  // ------------------ watermark → survivor-correctness bridge (B295)

  /** `cdc_watermark_survivor_drift` — B283 measures HOW out-of-order the
    * feed is; this measures what that disorder would COST: for candidate
    * watermark bounds W, how many (user, type) keys' latest-wins SURVIVOR
    * would change if records arriving more than W ms behind the key's
    * running event-time high-water mark were dropped (what
    * `withWatermark(ts, W)` does silently). The survivor changes exactly
    * when the key's true max-(ms, event_id) record is itself late by
    * more than W — so one running-max window and one per-key argmax rank
    * price EVERY candidate W row-locally. The table an operator reads to
    * pick a watermark by CORRECTNESS budget, not just by state size.
    *
    * Scale shape: two keyed windows over (user, type) — the same single
    * shuffle class as B283 — then one key-sized and one row-sized
    * map-side agg; the W grid is 3 literals applied row-locally. All
    * integer milliseconds.
    */
  private def cdcWatermarkSurvivorDrift(s: SparkSession, dir: String): DataFrame = {
    val wh = Window.partitionBy(col("user_id"), col("event_type")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wr = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ms").desc, col("event_id").desc)
    val late = events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("unix_millis(ts)").as("ms"))
      .withColumn("hwm", max(col("ms")).over(wh))
      .withColumn("late",
        when(col("hwm").isNotNull && col("ms") < col("hwm"), col("hwm") - col("ms"))
          .otherwise(lit(0L)))
      .withColumn("rn", row_number().over(wr))
    val keyLate = late.filter(col("rn") === 1).select(col("late").as("surv_late"))
    val grid    = Seq(0L, 60000L, 3600000L)
    val keys = keyLate.agg(
      count(lit(1)).as("n_keys"),
      grid.map(w => sum((col("surv_late") > w).cast("long")).as(s"ck_$w")): _*)
    val rows = late.agg(
      count(lit(1)).as("n_rows"),
      grid.map(w => sum((col("late") > w).cast("long")).as(s"dr_$w")): _*)
    keys.crossJoin(rows)
      .select(explode(array(grid.map(w =>
        struct(
          lit(w).as("w_ms"),
          col("n_keys"),
          col(s"ck_$w").as("changed_keys"),
          expr(s"ck_$w * 1000000 div n_keys").as("changed_keys_ppm"),
          col("n_rows"),
          col(s"dr_$w").as("dropped_rows"),
          expr(s"dr_$w * 1000000 div n_rows").as("dropped_ppm"))): _*)).as("r"))
      .select(col("r.*"))
  }

  private val cdcWatermarkSurvivorDriftSql =
    """WITH b AS (SELECT user_id, event_type, event_id, epoch_ms(ts) AS ms FROM events),
      |h AS (SELECT *, max(ms) OVER (PARTITION BY user_id, event_type ORDER BY event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm FROM b),
      |l AS (SELECT *, CASE WHEN hwm IS NOT NULL AND ms < hwm THEN hwm - ms ELSE 0 END AS late,
      |        row_number() OVER (PARTITION BY user_id, event_type ORDER BY ms DESC, event_id DESC) AS rn
      |      FROM h),
      |k AS (SELECT count(*) AS n_keys,
      |        CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ck_0,
      |        CAST(sum(CASE WHEN late > 60000 THEN 1 ELSE 0 END) AS BIGINT) AS ck_60000,
      |        CAST(sum(CASE WHEN late > 3600000 THEN 1 ELSE 0 END) AS BIGINT) AS ck_3600000
      |      FROM l WHERE rn = 1),
      |r AS (SELECT count(*) AS n_rows,
      |        CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT) AS dr_0,
      |        CAST(sum(CASE WHEN late > 60000 THEN 1 ELSE 0 END) AS BIGINT) AS dr_60000,
      |        CAST(sum(CASE WHEN late > 3600000 THEN 1 ELSE 0 END) AS BIGINT) AS dr_3600000
      |      FROM l)
      |SELECT w_ms, n_keys, changed_keys,
      |  changed_keys * 1000000 // n_keys AS changed_keys_ppm,
      |  n_rows, dropped_rows, dropped_rows * 1000000 // n_rows AS dropped_ppm
      |FROM (
      |  SELECT CAST(0 AS BIGINT) AS w_ms, n_keys, ck_0 AS changed_keys, n_rows, dr_0 AS dropped_rows FROM k, r
      |  UNION ALL
      |  SELECT 60000, n_keys, ck_60000, n_rows, dr_60000 FROM k, r
      |  UNION ALL
      |  SELECT 3600000, n_keys, ck_3600000, n_rows, dr_3600000 FROM k, r)""".stripMargin

  // --------------------------- debounce-gap pricing sweep (B296)

  /** `events_debounce_sweep` — what each debounce gap would COST in kept
    * volume: per event type, the fraction of events surviving
    * leading-edge debounce at gaps of 1 h / 6 h / 24 h, from ONE lag
    * window (the B72 per-(user, type) previous-event rule; the gaps are
    * row-local comparisons on the same `prev_ms`). It answers a debounce
    * operator's tuning question, and is the sibling of
    * B230's session-gap sweep — that one prices sessionization, this one
    * prices suppression. Exact integer milliseconds and ppm.
    *
    * Scale shape: one keyed window (bounded by a key's history) + one
    * type-bounded map-side agg; the sweep adds columns, not passes.
    */
  private def eventsDebounceSweep(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy(col("ms"), col("event_id"))
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_millis(ts)").as("ms"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        Seq(3600000L, 21600000L, 86400000L).zip(Seq("1h", "6h", "24h")).flatMap { case (g, tag) =>
          Seq(
            sum((col("prev_ms").isNull || col("ms") - col("prev_ms") > g).cast("long"))
              .as(s"kept_$tag"),
            expr(s"sum(CAST(prev_ms IS NULL OR ms - prev_ms > $g AS BIGINT)) * 1000000 div count(1)")
              .as(s"kept_${tag}_ppm"))
        }: _*)
  }

  private val eventsDebounceSweepSql =
    """WITH b AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |l AS (SELECT *, lag(ms) OVER (PARTITION BY user_id, event_type ORDER BY ms, event_id) AS prev_ms FROM b)
      |SELECT event_type, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 3600000 THEN 1 ELSE 0 END) AS BIGINT) AS kept_1h,
      |  CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 3600000 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS kept_1h_ppm,
      |  CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 21600000 THEN 1 ELSE 0 END) AS BIGINT) AS kept_6h,
      |  CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 21600000 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS kept_6h_ppm,
      |  CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 86400000 THEN 1 ELSE 0 END) AS BIGINT) AS kept_24h,
      |  CAST(sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 86400000 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS kept_24h_ppm
      |FROM l GROUP BY 1""".stripMargin

  // ---------------- selectivity independence audit (B297)

  /** `q_selectivity_independence` — the optimizer-trust audit B108 runs
    * for join cardinality, applied to conjunctive FILTERS: per-predicate
    * selectivities of the classic date-range / discount-band / quantity
    * predicates on lineitem, the selectivity the textbook independence
    * assumption predicts for their conjunction (the product — what every
    * cost model without column-group stats uses), and the ACTUAL
    * conjunction selectivity. The ratio is the correlation factor that
    * tells an operator whether mis-estimated plans on this data come
    * from stale stats or from genuinely correlated columns. All-integer
    * ppm arithmetic with the division order spelled identically in both
    * engines.
    *
    * Scale shape: ONE scan, one map-side-combined agg, 1-row output; the
    * predicates are row-local comparisons fused into the scan.
    */
  private def qSelectivityIndependence(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .select(
        (col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp")).cast("long").as("pa"),
        (col("l_discount") >= 0.05 && col("l_discount") <= 0.07).cast("long").as("pb"),
        (col("l_quantity") < 24.0).cast("long").as("pc"))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("sum(pa) * 1000000 div count(1)").as("sel_date_ppm"),
        expr("sum(pb) * 1000000 div count(1)").as("sel_disc_ppm"),
        expr("sum(pc) * 1000000 div count(1)").as("sel_qty_ppm"),
        expr("sum(pa * pb * pc) * 1000000 div count(1)").as("actual_ppm"))
      .select(
        col("n_rows"), col("sel_date_ppm"), col("sel_disc_ppm"), col("sel_qty_ppm"),
        expr("sel_date_ppm * sel_disc_ppm div 1000000 * sel_qty_ppm div 1000000").as("indep_ppm"),
        col("actual_ppm"))
      .withColumn("corr_factor_ppm",
        expr("CASE WHEN indep_ppm = 0 THEN NULL ELSE actual_ppm * 1000000 div indep_ppm END"))

  private val qSelectivityIndependenceSql =
    """WITH p AS (SELECT
      |    CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |         THEN 1 ELSE 0 END AS pa,
      |    CASE WHEN l_discount >= 0.05 AND l_discount <= 0.07 THEN 1 ELSE 0 END AS pb,
      |    CASE WHEN l_quantity < 24.0 THEN 1 ELSE 0 END AS pc
      |  FROM lineitem),
      |a AS (SELECT count(*) AS n_rows,
      |    CAST(sum(pa) * 1000000 // count(*) AS BIGINT) AS sel_date_ppm,
      |    CAST(sum(pb) * 1000000 // count(*) AS BIGINT) AS sel_disc_ppm,
      |    CAST(sum(pc) * 1000000 // count(*) AS BIGINT) AS sel_qty_ppm,
      |    CAST(sum(pa * pb * pc) * 1000000 // count(*) AS BIGINT) AS actual_ppm
      |  FROM p)
      |SELECT n_rows, sel_date_ppm, sel_disc_ppm, sel_qty_ppm,
      |  CAST(sel_date_ppm * sel_disc_ppm // 1000000 * sel_qty_ppm // 1000000 AS BIGINT) AS indep_ppm,
      |  actual_ppm,
      |  CASE WHEN sel_date_ppm * sel_disc_ppm // 1000000 * sel_qty_ppm // 1000000 = 0 THEN NULL
      |       ELSE CAST(actual_ppm * 1000000 //
      |            (sel_date_ppm * sel_disc_ppm // 1000000 * sel_qty_ppm // 1000000) AS BIGINT) END
      |    AS corr_factor_ppm
      |FROM a""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_seasonal_anomaly", Seq("B294"), eventsSeasonalAnomaly, eventsSeasonalAnomalySql),
    QuerySpec("cdc_watermark_survivor_drift", Seq("B295"), cdcWatermarkSurvivorDrift, cdcWatermarkSurvivorDriftSql),
    QuerySpec("events_debounce_sweep", Seq("B296"), eventsDebounceSweep, eventsDebounceSweepSql),
    QuerySpec("q_selectivity_independence", Seq("B297"), qSelectivityIndependence, qSelectivityIndependenceSql)
  )
}
