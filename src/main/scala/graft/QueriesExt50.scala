package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 43: graph link-strength features
  * (neighbor-Jaccard per edge — the classic link-prediction signal) and
  * the sessionization tuning table (every candidate gap's session stats
  * from ONE delta pass — the parameter sweep B180 pioneered for dedup
  * thresholds, applied to session gaps).
  */
object QueriesExt50 {

  // --------------------------- neighbor-Jaccard per edge (B229)

  /** For every support-≥2 co-purchase edge (u,v): the Jaccard overlap of
    * the endpoints' neighbor sets — |N(u)∩N(v)| / |N(u)∪N(v)| with u,v
    * themselves excluded — the classic link-strength / link-prediction
    * feature: an edge whose endpoints share most neighbors is structural
    * (same community), one with none is a bridge. Emitted in ppm with
    * the 0-union guard (two degree-1 endpoints → 0).
    *
    * Scale shape: for a SUPPORT-EDGE (u,v), a common neighbor w closes a
    * triangle {u,v,w} — so common-neighbor counts ARE per-edge triangle
    * supports, and the degree-ordered triangle enumeration applies.
    * Every edge is oriented from its lower-(degree, id) endpoint to the
    * higher; wedges are generated only at each triangle's LOWEST-degree
    * corner (pairs of out-neighbors), closed with one equi-join against
    * the oriented edge set, and each closed triangle credits its three
    * edges via a bounded explode + hash-agg. Work drops from Σ deg²
    * (hubs pay their full fan-out: measured 7.6×/decade with
    * densification, 161.8 s at sf10) to Σ outdeg² ≤ O(m^1.5) — a hub's
    * wedges are generated at its LOW-degree neighbors instead. This is
    * the refinement B97's Scaladoc cites as the web-scale standard;
    * the center-keyed form it replaces is r10 VERDICT "What's wrong" #3.
    * The earlier edge-anchored A/B (expand edges by the u-side adjacency
    * + left-semi) stays rejected: it shuffles the big (v, w) side without
    * bounding hub fan-out. Degrees are one hash-agg; everything here is
    * keyed shuffles, no nested loop.
    */
  private def graphJaccardNeighbors(s: SparkSession, dir: String): DataFrame = {
    // The support-pruned edge list feeds the degree agg, the orientation,
    // and the final projection — localCheckpoint materializes the
    // two-hash-agg pair build once instead of once per consumer (the
    // modularity query's pattern; the list is support-≥2-pruned, far
    // smaller than the pair stream that produces it).
    val edges = graft.operators.GraphOps.copurchaseEdges(lineitem(s, dir), 2L)
      .localCheckpoint(true)
    val adj = edges
      .select(col("u").as("node"), col("v").as("nb"))
      .union(edges.select(col("v").as("node"), col("u").as("nb")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("dg"))
    // Degree-ordered triangle enumeration, shared operator (also feeds
    // B273's clustering coefficient): each triangle exactly once.
    val tris = graft.operators.GraphOps.orientedTriangles(edges)
    // Credit each triangle to its three edges, normalized u < v by id to
    // match the edge list's canonical form.
    val common = tris
      .select(explode(array(
        struct(least(col("x"), col("y")).as("eu"), greatest(col("x"), col("y")).as("ev")),
        struct(least(col("x"), col("z")).as("eu"), greatest(col("x"), col("z")).as("ev")),
        struct(least(col("y"), col("z")).as("eu"), greatest(col("y"), col("z")).as("ev")))).as("e"))
      .groupBy(col("e.eu").as("a"), col("e.ev").as("b"))
      .agg(count(lit(1)).as("common"))
    edges
      .join(common, col("u") === col("a") && col("v") === col("b"), "left")
      .select(col("u"), col("v"), coalesce(col("common"), lit(0L)).as("common"))
      .join(deg.select(col("node").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("dg").as("dv")), Seq("v"))
      .select(
        col("u"),
        col("v"),
        col("common").as("common_neighbors"),
        (col("du") + col("dv") - lit(2) - col("common")).as("union_size"),
        expr(
          "CASE WHEN du + dv - 2 - common = 0 THEN 0L ELSE common * 1000000 div (du + dv - 2 - common) END"
        ).as("jaccard_ppm")
      )
  }

  private val graphJaccardNeighborsSql =
    """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS MATERIALIZED (
      |  SELECT u AS node, v AS nb FROM e0 UNION ALL SELECT v AS node, u AS nb FROM e0),
      |deg AS MATERIALIZED (SELECT node, count(*) AS dg FROM adj GROUP BY 1),
      |wedges AS MATERIALIZED (
      |  SELECT l.nb AS a, r.nb AS b, count(*) AS common
      |  FROM adj l JOIN adj r ON r.node = l.node AND l.nb < r.nb
      |  GROUP BY 1, 2)
      |SELECT e.u, e.v,
      |  coalesce(w.common, 0) AS common_neighbors,
      |  du.dg + dv.dg - 2 - coalesce(w.common, 0) AS union_size,
      |  CASE WHEN du.dg + dv.dg - 2 - coalesce(w.common, 0) = 0 THEN 0
      |    ELSE coalesce(w.common, 0) * 1000000 // (du.dg + dv.dg - 2 - coalesce(w.common, 0)) END
      |    AS jaccard_ppm
      |FROM e0 e
      |LEFT JOIN wedges w ON w.a = e.u AND w.b = e.v
      |JOIN deg du ON du.node = e.u
      |JOIN deg dv ON dv.node = e.v""".stripMargin

  // --------------------------- session gap sweep (B230)

  /** Session statistics for every candidate inactivity gap {1, 5, 15,
    * 60 min} from ONE per-user delta pass: a session count at gap g is
    * `n_users + #(inter-event deltas > g)` — no re-windowing per
    * candidate, the whole sweep reads the delta distribution once (the
    * B180 one-pass-sweep discipline applied to sessionization tuning).
    * B7/B153 sessionize at a FIXED gap; this is the table that says
    * which gap to fix — where the session count stabilizes between
    * candidate gaps is the natural inactivity boundary.
    *
    * Scale shape: one per-user lag window (partitioned, never global) →
    * four conditional counts in a single map-side-combinable aggregate →
    * a 4-row unpivot. Nothing after the window grows with event count.
    */
  private def eventsSessionGapSweep(s: SparkSession, dir: String): DataFrame = {
    val gapsMs = Seq(60, 300, 900, 3600).map(_ * 1000L)
    val deltas = events(s, dir)
      .select(col("user_id"), expr("unix_millis(ts)").as("ms"))
      .withColumn("delta", col("ms") - lag(col("ms"), 1).over(Window.partitionBy(col("user_id")).orderBy(col("ms"))))
    val aggCols = Seq(count(lit(1)).as("n_events")) ++
      gapsMs.map(g => sum(when(col("delta") > g, 1L).otherwise(0L)).as(s"x$g"))
    val agg = deltas.agg(countDistinct(col("user_id")).as("n_users"), aggCols: _*)
    val stacked = agg.select(
      col("n_users"),
      col("n_events"),
      expr(
        gapsMs
          .map(g => s"${g / 1000}L, x$g")
          .mkString(s"stack(${gapsMs.size}, ", ", ", ") AS (gap_seconds, n_breaks)")
      )
    )
    stacked
      .select(
        col("gap_seconds"),
        col("n_users"),
        col("n_events"),
        (col("n_users") + col("n_breaks")).as("n_sessions"),
        expr("n_events * 1000 div (n_users + n_breaks)").as("mean_events_per_session_milli")
      )
  }

  private val eventsSessionGapSweepSql =
    """WITH d AS (
      |  SELECT user_id, epoch_ms(ts) AS ms,
      |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)) AS delta
      |  FROM events),
      |a AS (
      |  SELECT count(DISTINCT user_id) AS n_users, count(*) AS n_events,
      |    CAST(sum(CASE WHEN delta > 60000 THEN 1 ELSE 0 END) AS BIGINT) AS x60,
      |    CAST(sum(CASE WHEN delta > 300000 THEN 1 ELSE 0 END) AS BIGINT) AS x300,
      |    CAST(sum(CASE WHEN delta > 900000 THEN 1 ELSE 0 END) AS BIGINT) AS x900,
      |    CAST(sum(CASE WHEN delta > 3600000 THEN 1 ELSE 0 END) AS BIGINT) AS x3600
      |  FROM d),
      |g AS (
      |  SELECT CAST(60 AS BIGINT) AS gap_seconds, x60 AS n_breaks, n_users, n_events FROM a
      |  UNION ALL SELECT 300, x300, n_users, n_events FROM a
      |  UNION ALL SELECT 900, x900, n_users, n_events FROM a
      |  UNION ALL SELECT 3600, x3600, n_users, n_events FROM a)
      |SELECT gap_seconds, n_users, n_events,
      |  n_users + n_breaks AS n_sessions,
      |  n_events * 1000 // (n_users + n_breaks) AS mean_events_per_session_milli
      |FROM g""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("graph_jaccard_neighbors", Seq("B229"), graphJaccardNeighbors, graphJaccardNeighborsSql),
    QuerySpec("events_session_gap_sweep", Seq("B230"), eventsSessionGapSweep, eventsSessionGapSweepSql)
  )
}
