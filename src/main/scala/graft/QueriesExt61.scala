package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 54: the two experiment-design lenses still
  * missing around B82/B144/B238 — power analysis BEFORE the experiment
  * (what effect could this traffic even detect?) and
  * difference-in-differences AFTER it (what if assignment wasn't
  * randomized and both arms drift with time?).
  */
object QueriesExt61 {

  // --------------------------- A/B power / MDE table (B246)

  /** Minimum detectable effect at 80% power / two-sided α=0.05 for the
    * purchase-value metric, at 1×/2×/4×/10× current traffic
    * (`events_ab_power`): MDE = (z₀.₉₇₅ + z₀.₈₀)·√(2σ²/n) with the z
    * constants as fixed literals (1.959964, 0.841621 — no erf/quantile
    * libm call enters either engine) and σ² from EXACT DECIMAL component
    * sums (B82's scheme), so the only floating point is a deterministic
    * divide/multiply/√ chain on identical doubles (IEEE requires
    * correctly-rounded sqrt, so it is engine-identical, unlike exp/ln
    * which need B184's snap). The table an experimenter reads BEFORE
    * launching: if the effect worth shipping is below the n× row, the
    * experiment is underpowered at n× traffic and B82's t-test will
    * just report noise.
    *
    * Scale shape: ONE map-side-combined aggregate row off the scan
    * (count + Σv + Σv²); the 4-row multiplier table is a literal explode
    * crossed with that 1-row broadcast. Nothing else touches data.
    */
  private def eventsAbPower(s: SparkSession, dir: String): DataFrame = {
    val v = col("value").cast("decimal(18,2)")
    val stats = events(s, dir)
      .where(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n"), sum(v).as("sv"), sum(v * v).as("svv"))
    val mults = stats.sparkSession.range(1).select(
      explode(array(lit(1L), lit(2L), lit(4L), lit(10L))).as("n_mult"))
    mults
      .crossJoin(broadcast(stats))
      .select(
        col("n_mult"),
        expr("n div 2 * n_mult").as("n_per_arm"),
        expr("round(CAST(sv AS DOUBLE) / n, 6)").as("mean_value"),
        expr("round(sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n) / (n - 1)), 6)")
          .as("sd_value"),
        expr(
          "round((1.959964 + 0.841621) * sqrt(2.0 * ((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n) / (n - 1)) / (n div 2 * n_mult)), 6)"
        ).as("mde_abs"),
        expr(
          "CAST(round((1.959964 + 0.841621) * sqrt(2.0 * ((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n) / (n - 1)) / (n div 2 * n_mult)) / (CAST(sv AS DOUBLE) / n) * 1000000, 0) AS BIGINT)"
        ).as("mde_rel_ppm"))
  }

  private val eventsAbPowerSql =
    """WITH stats AS (
      |  SELECT count(*) AS n,
      |    sum(CAST(value AS DECIMAL(18,2))) AS sv,
      |    sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS svv
      |  FROM events WHERE event_type = 'purchase'),
      |mults AS (SELECT unnest([1, 2, 4, 10]) AS n_mult)
      |SELECT CAST(n_mult AS BIGINT) AS n_mult,
      |  CAST(n // 2 * n_mult AS BIGINT) AS n_per_arm,
      |  round(CAST(sv AS DOUBLE) / n, 6) AS mean_value,
      |  round(sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n) / (n - 1)), 6) AS sd_value,
      |  round((1.959964 + 0.841621) * sqrt(2.0 * ((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n) / (n - 1)) / (n // 2 * n_mult)), 6) AS mde_abs,
      |  CAST(round((1.959964 + 0.841621) * sqrt(2.0 * ((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n) / (n - 1)) / (n // 2 * n_mult)) / (CAST(sv AS DOUBLE) / n) * 1000000) AS BIGINT) AS mde_rel_ppm
      |FROM mults, stats""".stripMargin

  // --------------------------- difference-in-differences (B247)

  /** Difference-in-differences readout (`events_did`): users split by
    * the B82 hash into treatment/control, time split at the observation
    * window's calendar midpoint; per (arm, period) cell the purchase
    * count and EXACT integer milli mean, and the DiD estimate
    * (ΔT − ΔC in milli) — the quasi-experimental estimator that removes
    * any common time trend a raw post-period comparison confounds.
    * Everything is integer (DECIMAL sums → BIGINT milli → floor-div
    * means), so the readout is bit-identical across engines; pair with
    * B238's bootstrap for uncertainty.
    *
    * Scale shape: one scan into a 4-key map-side agg (the min/max-day
    * bounds are a 1-row broadcast the period split reads); the DiD
    * arithmetic happens on 4 rows.
    */
  private def eventsDid(s: SparkSession, dir: String): DataFrame = {
    val bounds = events(s, dir)
      .agg(min(to_date(col("ts"))).as("dmin"), max(to_date(col("ts"))).as("dmax"))
      .select(expr("date_add(dmin, CAST(datediff(dmax, dmin) div 2 AS INT))").as("dmid"))
    val cells = events(s, dir)
      .where(col("event_type") === "purchase")
      .crossJoin(broadcast(bounds))
      .select(
        (graft.functions.Hashing.h32(col("user_id").cast("string")) % 2).as("treat"),
        when(to_date(col("ts")) > col("dmid"), 1L).otherwise(0L).as("post"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy(col("treat"), col("post"))
      .agg(count(lit(1)).as("n"), (sum(col("v")) * 1000).cast("long").as("sv_milli"))
      .select(col("treat"), col("post"), col("n"),
        expr("sv_milli div n").as("mean_milli"))
    def cell(t: Int, p: Int, suffix: String) = cells
      .where(col("treat") === t && col("post") === p)
      .select(col("n").as(s"n_$suffix"), col("mean_milli").as(s"mean_${suffix}_milli"))
    cell(0, 0, "c_pre")
      .crossJoin(broadcast(cell(0, 1, "c_post")))
      .crossJoin(broadcast(cell(1, 0, "t_pre")))
      .crossJoin(broadcast(cell(1, 1, "t_post")))
      .select(
        col("n_c_pre"), col("n_c_post"), col("n_t_pre"), col("n_t_post"),
        col("mean_c_pre_milli"), col("mean_c_post_milli"),
        col("mean_t_pre_milli"), col("mean_t_post_milli"),
        ((col("mean_t_post_milli") - col("mean_t_pre_milli")) -
          (col("mean_c_post_milli") - col("mean_c_pre_milli"))).as("did_milli"))
  }

  private val eventsDidSql =
    """WITH bounds AS (
      |  SELECT min(CAST(ts AS DATE)) AS dmin, max(CAST(ts AS DATE)) AS dmax FROM events),
      |mid AS (SELECT dmin + CAST(date_diff('day', dmin, dmax) // 2 AS INT) AS dmid FROM bounds),
      |cells AS (
      |  SELECT
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS treat,
      |    CASE WHEN CAST(ts AS DATE) > mid.dmid THEN 1 ELSE 0 END AS post,
      |    count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 1000 AS BIGINT) AS sv_milli
      |  FROM events, mid WHERE event_type = 'purchase' GROUP BY 1, 2),
      |m AS (SELECT treat, post, n, sv_milli // n AS mean_milli FROM cells)
      |SELECT
      |  cp.n AS n_c_pre, co.n AS n_c_post, tp.n AS n_t_pre, to_.n AS n_t_post,
      |  cp.mean_milli AS mean_c_pre_milli, co.mean_milli AS mean_c_post_milli,
      |  tp.mean_milli AS mean_t_pre_milli, to_.mean_milli AS mean_t_post_milli,
      |  (to_.mean_milli - tp.mean_milli) - (co.mean_milli - cp.mean_milli) AS did_milli
      |FROM (SELECT * FROM m WHERE treat = 0 AND post = 0) cp,
      |     (SELECT * FROM m WHERE treat = 0 AND post = 1) co,
      |     (SELECT * FROM m WHERE treat = 1 AND post = 0) tp,
      |     (SELECT * FROM m WHERE treat = 1 AND post = 1) to_""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_ab_power", Seq("B246"), eventsAbPower, eventsAbPowerSql),
    QuerySpec("events_did", Seq("B247"), eventsDid, eventsDidSql)
  )
}
