package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.cdc.Envelope

/** Round-8 additions, batch 21: full-outer reconciliation (the one join
  * type the inventory lacked), the dedup SURVIVOR pick (clusters → an
  * actionable keep/remove list), and a CDC stream health profile.
  */
object QueriesExt27 {

  // --------------------------- full-outer reconciliation (B163)

  /** Daily orders-vs-events reconciliation by FULL OUTER join — the
    * "which days exist on only one side" recon every ingestion pair runs
    * (and the join type the inventory did not yet exercise: inner, left,
    * semi, anti, null-safe, interval, as-of all exist). The fixtures'
    * order dates (1992–1998) and event dates (2024) are disjoint, so both
    * only-sides are populated — exactly the recon's alarm case.
    *
    * Scale shape: both sides collapse to days-sized aggregates BEFORE the
    * join (map-side combined), so the full-outer join is dimension-sized
    * however large either fact table grows.
    */
  private def qReconFullOuter(s: SparkSession, dir: String): DataFrame = {
    val od = orders(s, dir)
      .groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val ed = events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
    od.join(ed, Seq("day"), "full_outer")
      .select(
        col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        when(col("n_orders").isNull, lit("events_only"))
          .when(col("n_events").isNull, lit("orders_only"))
          .otherwise(lit("both")).as("status")
      )
  }

  private val qReconFullOuterSql =
    """WITH od AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
      |  FROM orders GROUP BY 1),
      |ed AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
      |  FROM events GROUP BY 1)
      |SELECT coalesce(od.day, ed.day) AS day,
      |  coalesce(n_orders, 0) AS n_orders,
      |  coalesce(n_events, 0) AS n_events,
      |  CASE WHEN n_orders IS NULL THEN 'events_only'
      |       WHEN n_events IS NULL THEN 'orders_only'
      |       ELSE 'both' END AS status
      |FROM od FULL OUTER JOIN ed ON od.day = ed.day""".stripMargin

  // --------------------------- dedup survivor pick (B164)

  /** The ACTION step of near-dup clustering: per MinHash-LSH cluster
    * (B3's pairs → components), keep the longest document (ties: lowest
    * doc_id) and emit the cluster's survivor beside what gets removed —
    * the keep/remove manifest a curation run actually executes, where B3
    * stops at "these belong together". Canonical pick is rank-1 under
    * (n_chars DESC, doc_id ASC) — a window rank rather than an arithmetic
    * max_by composite, which would wrap past n_chars ~9.2M (Spark wraps
    * Long overflow silently; DuckDB raises — query and oracle would
    * diverge on large documents).
    *
    * Scale shape: pairs/components as B3 (banded LSH, never all-pairs);
    * the window and the rollup share one hash partitioning on cluster_id
    * (no second shuffle), and the per-cluster sort is bounded by cluster
    * size.
    */
  private def dedupCanonicalPick(s: SparkSession, dir: String): DataFrame = {
    val docs  = documents(s, dir)
    val pairs = operators.Dedup.minhashPairs(docs, "doc_id", "text", 3, 0.5)
    operators.Dedup
      .connectedComponents(pairs)
      .join(docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy(col("cluster_id")).orderBy(col("n_chars").desc, col("id").asc)))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("id"))).as("survivor_doc"),
        sum(col("n_chars")).as("total_chars")
      )
      .join(
        documents(s, dir).select(col("doc_id").as("survivor_doc"), col("n_chars").as("kept_chars")),
        Seq("survivor_doc")
      )
      .select(
        col("cluster_id"),
        col("n_members"),
        col("survivor_doc"),
        (col("n_members") - 1).as("n_removed"),
        (col("total_chars") - col("kept_chars")).as("chars_removed")
      )
  }

  private val dedupCanonicalPickSql =
    s"""WITH RECURSIVE mh AS (${QueriesExt.minhashPairsSql}),
       |edges AS (SELECT id_a AS a, id_b AS b FROM mh UNION SELECT id_b, id_a FROM mh),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |labels AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src),
       |ranked AS (
       |  SELECT l.cluster_id, l.id, d.n_chars,
       |    row_number() OVER (PARTITION BY l.cluster_id ORDER BY d.n_chars DESC, l.id ASC) AS rn
       |  FROM labels l JOIN documents d ON d.doc_id = l.id),
       |m AS (
       |  SELECT cluster_id, count(*) AS n_members,
       |    max(CASE WHEN rn = 1 THEN id END) AS survivor_doc,
       |    sum(n_chars) AS total_chars
       |  FROM ranked
       |  GROUP BY 1)
       |SELECT m.cluster_id, m.n_members, m.survivor_doc,
       |  m.n_members - 1 AS n_removed,
       |  -- CAST: DuckDB promotes sum(BIGINT) to HUGEINT, which its pandas
       |  -- bridge renders as float64 and fails the driver's typed row-hash
       |  CAST(m.total_chars - d2.n_chars AS BIGINT) AS chars_removed
       |FROM m JOIN documents d2 ON d2.doc_id = m.survivor_doc""".stripMargin

  // --------------------------- CDC stream health profile (B165)

  /** One-row health profile of the CDC envelope stream: totals by
    * category — tombstones, deletes, updates, creates, invalid-id
    * payloads — plus the kept-after-extract rate ppm. The dashboard row
    * an ingestion operator watches; a tombstone or malformed spike is the
    * first sign of an upstream connector fault. Categories replay the
    * synthesizer's arithmetic on both sides, so the oracle is independent
    * of the envelope struct machinery.
    *
    * Scale shape: one map-side-combined conditional-sum pass; 1-row
    * output.
    */
  private def cdcOpStats(s: SparkSession, dir: String): DataFrame = {
    val env = Envelope.synthesizeFromEvents(events(s, dir))
    env
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_tombstone"),
        sum(when(col("value.op") === "d", 1L).otherwise(0L)).as("n_delete"),
        sum(when(col("value.op") === "u", 1L).otherwise(0L)).as("n_update"),
        sum(when(col("value.op") === "c", 1L).otherwise(0L)).as("n_create"),
        sum(when(col("value.after").isNotNull && col("value.after.id") === 0L, 1L).otherwise(0L))
          .as("n_invalid_id"),
        sum(
          when(
            col("value.after").isNotNull && Envelope.validId(col("value.after.id")),
            1L
          ).otherwise(0L)
        ).as("n_kept")
      )
      .select(
        col("n_total"), col("n_tombstone"), col("n_delete"), col("n_update"),
        col("n_create"), col("n_invalid_id"),
        expr("CAST(n_kept * 1000000 div n_total AS BIGINT)").as("kept_ppm")
      )
  }

  /** Oracle replays the synthesizer's mod arithmetic (Envelope.scala):
    * %97 → tombstone; else %89 → delete (null after); else op by parity;
    * %83 → after.id = 0 (invalid).
    */
  private val cdcOpStatsSql =
    """SELECT count(*) AS n_total,
      |  CAST(sum(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstone,
      |  CAST(sum(CASE WHEN event_id % 97 != 0 AND event_id % 89 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
      |  CAST(sum(CASE WHEN event_id % 97 != 0 AND event_id % 89 != 0 AND event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
      |  CAST(sum(CASE WHEN event_id % 97 != 0 AND event_id % 89 != 0 AND event_id % 2 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_create,
      |  CAST(sum(CASE WHEN event_id % 97 != 0 AND event_id % 89 != 0 AND event_id % 83 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid_id,
      |  CAST(sum(CASE WHEN event_id % 97 != 0 AND event_id % 89 != 0 AND event_id % 83 != 0 THEN 1 ELSE 0 END) * 1000000
      |       // count(*) AS BIGINT) AS kept_ppm
      |FROM events""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_recon_full_outer", Seq("B163"), qReconFullOuter, qReconFullOuterSql),
    QuerySpec("dedup_canonical_pick", Seq("B164"), dedupCanonicalPick, dedupCanonicalPickSql),
    QuerySpec("cdc_op_stats", Seq("A3", "A4", "B165"), cdcOpStats, cdcOpStatsSql)
  )
}
