package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.normSql

/** Round-8 additions, batch 19: boilerplate-prefix duplicate clusters, an
  * exact rolling median, and the day-of-week × hour usage heatmap — three
  * everyday curation/ops readouts.
  */
object QueriesExt25 {

  // --------------------------- prefix-duplicate clusters (B157)

  /** Boilerplate-prefix clustering: documents sharing an identical 48-char
    * normalized prefix — the scraped-template signature (cookie banners,
    * license headers, forum scaffolds) that shingle-based near-dup (B3)
    * under-weights because the shared text is a fixed HEAD, not spread
    * through the body. Clusters of size > 1 report size and first doc —
    * the curator's "strip this template" worklist.
    *
    * Scale shape: one hash-agg on the 48-byte prefix — map-side combined,
    * result bounded by distinct prefixes; no pairwise anything.
    */
  private def dedupPrefix(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(
        col("doc_id"),
        substring(operators.TextAnalysis.normalize(col("text")), 1, 48).as("prefix")
      )
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .where(col("n_docs") > 1)

  private val dedupPrefixSql =
    s"""SELECT substr($normSql, 1, 48) AS prefix,
       |  count(*) AS n_docs, min(doc_id) AS first_doc
       |FROM documents
       |GROUP BY 1 HAVING count(*) > 1""".stripMargin

  // --------------------------- rolling exact median (B158)

  /** 7-day rolling EXACT median of daily revenue per order priority — the
    * robust ops trendline (a single whale day moves an average, not a
    * median). Exact, not approximate: the frame holds ≤ 7 integer-cent
    * daily totals, so `percentile(…, 0.5)` interpolates at worst one
    * midpoint — a .5-exact rational both engines represent identically
    * (day totals are exact BIGINT cents via one round at ingest).
    *
    * Scale shape: one (priority, day) map-side-combined sum — the window
    * then runs over a days-sized series per priority, 7 rows per frame.
    */
  private def qRollingMedian(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(
        col("o_orderpriority"),
        col("o_orderdate").cast("date").as("day")
      )
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day")).rowsBetween(-6, 0)
    daily
      .withColumn("med7", expr("percentile(cents, 0.5)").over(w))
      .select(
        col("o_orderpriority"),
        col("day"),
        col("cents"),
        round(col("med7") / 100.0, 2).as("med7_dollars")
      )
  }

  private val qRollingMedianSql =
    """WITH daily AS (
      |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
      |         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_orderpriority, day, cents,
      |  round(median(cents) OVER (PARTITION BY o_orderpriority ORDER BY day
      |                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0, 2) AS med7_dollars
      |FROM daily""".stripMargin

  // --------------------------- usage heatmap (B159)

  /** Day-of-week × hour event heatmap with ppm shares — the load-shape
    * readout behind capacity planning and anomaly baselines (B23 normalizes
    * per hour; this is the weekly-periodic view). dow is ISO (0 = Monday)
    * in both engines.
    *
    * Scale shape: one map-side-combined count over at most 168 cells +
    * a 1-row total broadcast.
    */
  private def eventsHeatmap(s: SparkSession, dir: String): DataFrame = {
    val cells = events(s, dir)
      .groupBy(expr("weekday(ts)").cast("long").as("dow"), hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("n_events"))
    cells
      .crossJoin(broadcast(cells.agg(sum(col("n_events")).as("n_total"))))
      .select(
        col("dow"),
        col("hr"),
        col("n_events"),
        expr("CAST(n_events * 1000000 div n_total AS BIGINT)").as("share_ppm")
      )
  }

  private val eventsHeatmapSql =
    """WITH cells AS (
      |  SELECT date_part('isodow', ts) - 1 AS dow, hour(ts) AS hr, count(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT sum(n_events) AS n_total FROM cells)
      |SELECT dow, hr, n_events,
      |  CAST(n_events * 1000000 // n_total AS BIGINT) AS share_ppm
      |FROM cells, tot""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_prefix", Seq("B157"), dedupPrefix, dedupPrefixSql),
    QuerySpec("q_rolling_median", Seq("B158"), qRollingMedian, qRollingMedianSql),
    QuerySpec("events_heatmap", Seq("B159"), eventsHeatmap, eventsHeatmapSql)
  )
}
