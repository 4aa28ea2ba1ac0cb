package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-9 additions, batch 28: two design-audit operators — the
  * transitive-chain check on near-dup clusters (LSH's known failure
  * mode), and the late-data profile that sizes a streaming watermark
  * before deployment.
  */
object QueriesExt34 {

  // --------------------------- dedup chain audit (B190)

  /** Transitive-closure audit of B3's clusters: connected components
    * merge A–B and B–C into one cluster even when A and C share nothing —
    * the chaining failure every LSH dedup inherits. Per cluster this
    * emits size, verified-edge count, the WEAKEST verified link
    * (min jaccard — the chain's splice point), and edge density ppm
    * (2E/(n(n−1))): a large cluster with low density and a weak minimum
    * link is a chain, not a clique, and its survivor pick (B164) is
    * discarding non-duplicates. The table an operator reads before
    * trusting a dedup manifest.
    *
    * Scale shape: pairs/components as B3; both aggs are cluster-keyed
    * hash-aggs over the pair list and the label table.
    */
  private def dedupChainAudit(s: SparkSession, dir: String): DataFrame = {
    val pairs = operators.Dedup
      .minhashPairs(documents(s, dir), "doc_id", "text", 3, 0.5)
      .localCheckpoint(true)
    val labels = operators.Dedup.connectedComponents(pairs)
    val sizes = labels
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("size"))
    val edgeStats = pairs
      .join(labels.withColumnRenamed("id", "id_a"), Seq("id_a"))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_edges"),
        min(col("jaccard")).as("min_jaccard")
      )
    sizes
      .join(edgeStats, Seq("cluster_id"))
      .select(
        col("cluster_id"),
        col("size"),
        col("n_edges"),
        col("min_jaccard"),
        expr("CAST(n_edges * 2000000 div (size * (size - 1)) AS BIGINT)").as("density_ppm")
      )
  }

  private val dedupChainAuditSql =
    s"""WITH RECURSIVE mh AS (${QueriesExt.minhashPairsSql}),
       |edges AS (SELECT id_a AS a, id_b AS b FROM mh UNION SELECT id_b, id_a FROM mh),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |lbl AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src),
       |sz AS (SELECT cluster_id, count(*) AS size FROM lbl GROUP BY 1),
       |es AS (
       |  SELECT l.cluster_id, count(*) AS n_edges, min(mh.jaccard) AS min_jaccard
       |  FROM mh JOIN lbl l ON l.id = mh.id_a
       |  GROUP BY 1)
       |SELECT sz.cluster_id, sz.size, es.n_edges, es.min_jaccard,
       |  CAST(es.n_edges * 2000000 // (sz.size * (sz.size - 1)) AS BIGINT) AS density_ppm
       |FROM sz JOIN es USING (cluster_id)""".stripMargin

  // --------------------------- watermark sizing profile (B191)

  /** The batch audit that sizes a streaming watermark BEFORE deployment:
    * treating event_id as arrival order within each user's stream, an
    * event is late by (max event-time already seen) − (its event time).
    * For candidate watermark delays d ∈ {0 s, 60 s, 300 s, 3600 s} this
    * emits how many events a watermark of d would drop and the drop rate
    * ppm — the state-size-vs-completeness trade read straight off the
    * data (the streaming twins' `withWatermark` calls cite exactly this
    * trade; here it is measured instead of guessed).
    *
    * Scale shape: one per-user ordered window (running max — bounded by
    * per-user event counts, partition-parallel), then a 4-row threshold
    * explode and a map-side conditional-sum rollup.
    */
  private def eventsLateProfile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = events(s, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("late_ms", greatest(max(col("ms")).over(w) - col("ms"), lit(0L)))
    late
      .crossJoin(broadcast(late.agg(count(lit(1)).as("n_total"))))
      .withColumn("threshold_ms", explode(array(Seq(0L, 60000L, 300000L, 3600000L).map(lit): _*)))
      .groupBy(col("threshold_ms"))
      .agg(
        first(col("n_total")).as("n_total"),
        sum(when(col("late_ms") > col("threshold_ms"), 1L).otherwise(0L)).as("n_dropped")
      )
      .select(
        col("threshold_ms"),
        col("n_total"),
        col("n_dropped"),
        expr("CAST(n_dropped * 1000000 div n_total AS BIGINT)").as("drop_ppm")
      )
  }

  private val eventsLateProfileSql =
    """WITH late AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    greatest(max(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - epoch_ms(ts), 0) AS late_ms
      |  FROM events),
      |tot AS (SELECT count(*) AS n_total FROM late)
      |SELECT CAST(t.thr AS BIGINT) AS threshold_ms, any_value(n_total) AS n_total,
      |  CAST(sum(CASE WHEN late_ms > t.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(sum(CASE WHEN late_ms > t.thr THEN 1 ELSE 0 END) * 1000000 // any_value(n_total) AS BIGINT) AS drop_ppm
      |FROM late CROSS JOIN tot
      |CROSS JOIN (VALUES (0), (60000), (300000), (3600000)) AS t(thr)
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_chain_audit", Seq("B190"), dedupChainAudit, dedupChainAuditSql),
    QuerySpec("events_late_profile", Seq("B191"), eventsLateProfile, eventsLateProfileSql)
  )
}
