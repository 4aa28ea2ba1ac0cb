package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 31: the IVF index balance audit (cell-size
  * skew is what makes nprobe recall curves lie) and a rate-based bot
  * profile over the event stream (the abuse-filter pass a training
  * corpus built from user events needs before anything else reads it).
  */
object QueriesExt37 {

  // --------------------------- IVF cell balance (B197)

  /** Cell-size report for the frozen-seed IVF index (B4's geometry, 8
    * cells): per cell its population, corpus share, and load relative to
    * the ideal (total/nCells) in ppm. A cell at several× ideal makes
    * every probe that touches it scan that multiple of the expected
    * candidates — the recall-vs-probes curve (B185) is only trustworthy
    * beside this table, and a production index would re-seed when the
    * max load factor drifts. Oracle replays the full md5-seed + argmin
    * geometry in SQL, independent of the Spark implementation.
    *
    * Scale shape: assignment is one broadcast-centroid crossJoin with a
    * map-side-combining argmin (corpus-linear, cells-bounded); the
    * report aggregates to exactly nCells rows + a 1-row total broadcast.
    */
  private def simIvfBalance(s: SparkSession, dir: String): DataFrame = {
    val assign = operators.Similarity
      .ivfAssign(embeddings(s, dir), "vec_id", "embedding", nCells = 8)
    val sizes = assign.groupBy(col("cell").as("cell_id")).agg(count(lit(1)).as("n_vecs"))
    sizes
      .crossJoin(broadcast(sizes.agg(sum(col("n_vecs")).as("total"), count(lit(1)).as("n_cells"))))
      .select(
        col("cell_id"),
        col("n_vecs"),
        expr("CAST(n_vecs * 1000000 div total AS BIGINT)").as("share_ppm"),
        expr("CAST(n_vecs * n_cells * 1000000 div total AS BIGINT)").as("load_vs_ideal_ppm")
      )
  }

  private val simIvfBalanceSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |seeds AS (SELECT vec_id AS cell_id, e AS ce FROM v
      |          ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 8),
      |assign AS (
      |  SELECT vec_id, cell_id FROM (
      |    SELECT v.vec_id, s.cell_id,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_dot_product(v.e, v.e) - 2.0*list_dot_product(v.e, s.ce) + list_dot_product(s.ce, s.ce) ASC,
      |        s.cell_id ASC) AS rn
      |    FROM v CROSS JOIN seeds s)
      |  WHERE rn = 1),
      |sizes AS (SELECT cell_id, count(*) AS n_vecs FROM assign GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total, count(*) AS n_cells FROM sizes)
      |SELECT cell_id, n_vecs,
      |  CAST(n_vecs * 1000000 // total AS BIGINT) AS share_ppm,
      |  CAST(n_vecs * n_cells * 1000000 // total AS BIGINT) AS load_vs_ideal_ppm
      |FROM sizes CROSS JOIN tot""".stripMargin

  // --------------------------- bot-rate profile (B198)

  /** Rate-based bot profile over the event stream: per user,
    * events-per-active-minute (×1000, integer) and the worst
    * single-minute burst; users then roll up into (volume, burst)
    * binary-magnitude cells (bit lengths — scan-local, no global sort,
    * the B194 discipline; both axes bounded at 64 no matter how big a
    * whale gets). High-volume/high-burst cells with a pinned rate are
    * the scripted-traffic candidates a training corpus built from user
    * events must drop first; the per-cell rate min/max shows the
    * inhuman uniformity. The table sizes that cut before anyone picks
    * a threshold.
    *
    * Scale shape: (user, minute) map-side count → per-user rollup →
    * ≤64×64-cell agg. All-integer math.
    */
  private def eventsBotProfile(s: SparkSession, dir: String): DataFrame = {
    val perMinute = events(s, dir)
      .select(col("user_id"), expr("unix_millis(ts) div 60000").as("minute"))
      .groupBy(col("user_id"), col("minute"))
      .agg(count(lit(1)).as("c"))
    val perUser = perMinute
      .groupBy(col("user_id"))
      .agg(
        sum(col("c")).as("n_events"),
        count(lit(1)).as("active_minutes"),
        max(col("c")).as("max_burst")
      )
      .select(
        expr("CAST(n_events * 1000 div active_minutes AS BIGINT)").as("rate_milli"),
        col("n_events"),
        col("max_burst")
      )
    perUser
      .groupBy(
        expr("CAST(length(bin(n_events)) AS BIGINT)").as("events_bucket"),
        expr("CAST(length(bin(max_burst)) AS BIGINT)").as("burst_bucket")
      )
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("n_events")).as("n_events"),
        min(col("rate_milli")).as("min_rate_milli"),
        max(col("rate_milli")).as("max_rate_milli")
      )
  }

  private val eventsBotProfileSql =
    """WITH pm AS (
      |  SELECT user_id, epoch_ms(ts) // 60000 AS minute, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |pu AS (
      |  SELECT user_id,
      |    CAST(sum(c) * 1000 // count(*) AS BIGINT) AS rate_milli,
      |    CAST(sum(c) AS BIGINT) AS n_events,
      |    max(c) AS max_burst
      |  FROM pm GROUP BY 1)
      |SELECT CAST(length(bin(n_events)) AS BIGINT) AS events_bucket,
      |  CAST(length(bin(max_burst)) AS BIGINT) AS burst_bucket,
      |  count(*) AS n_users,
      |  CAST(sum(n_events) AS BIGINT) AS n_events,
      |  min(rate_milli) AS min_rate_milli,
      |  max(rate_milli) AS max_rate_milli
      |FROM pu GROUP BY 1, 2""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_ivf_balance", Seq("B197"), simIvfBalance, simIvfBalanceSql),
    QuerySpec("events_bot_profile", Seq("B198"), eventsBotProfile, eventsBotProfileSql)
  )
}
