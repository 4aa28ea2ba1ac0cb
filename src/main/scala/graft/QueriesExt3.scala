package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.{dec2, revenue, revenueSql, tsLit}
import graft.functions.Hashing
import graft.operators.{AsOfJoin, SkewJoin}

/** Fourth query batch: temporal as-of join (checked against DuckDB's
  * native ASOF JOIN — a genuinely independent implementation), salted
  * skew join (shares the plain join's oracle: different physical plan,
  * same answer), and the wider TPC-H-style relational sweep (Q7/Q9/Q13/
  * Q14/Q18/Q19/Q22 shapes adapted to the fixture schema).
  */
object QueriesExt3 {

  // --------------------------------------------------- as-of temporal join

  /** Deterministic dimension history carved out of the events fixture:
    * every 11th event is a "dimension version"; the rest are probes that
    * as-of join to the latest version at-or-before their timestamp.
    */
  private def cdcAsofEnrich(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).withColumn("ms", unix_millis(col("ts")))
    val build = ev
      .filter(col("event_id") % 11 === 0)
      .groupBy(col("user_id"), col("ms"))
      .agg(max(col("value")).as("dim_value"))
    val probe = ev
      .filter(col("event_id") % 11 =!= 0)
      .select(col("event_id"), col("user_id"), col("ms"))
    AsOfJoin.asOf(probe, build, "user_id", "ms", "ms", Seq("dim_value"))
  }

  private val cdcAsofEnrichSql =
    """WITH d AS (SELECT user_id, epoch_ms(ts) AS ms, max(value) AS dim_value
      |  FROM events WHERE event_id % 11 = 0 GROUP BY 1, 2),
      |e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
      |  FROM events WHERE event_id % 11 != 0)
      |SELECT e.event_id, e.user_id, e.ms, d.dim_value
      |FROM e ASOF LEFT JOIN d ON e.user_id = d.user_id AND e.ms >= d.ms""".stripMargin

  /** Same query through the custom AsOfJoinPlan/AsOfJoinExec route (the
    * whole-operator Catalyst extension) — shares the DuckDB native ASOF
    * oracle, so the custom physical operator is checked against an
    * entirely independent engine, and against the composed form via the
    * shared oracle.
    */
  private def cdcAsofNative(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).withColumn("ms", unix_millis(col("ts")))
    val build = ev
      .filter(col("event_id") % 11 === 0)
      .groupBy(col("user_id"), col("ms"))
      .agg(max(col("value")).as("dim_value"))
    val probe = ev
      .filter(col("event_id") % 11 =!= 0)
      .select(col("event_id"), col("user_id"), col("ms"))
    AsOfJoin.asOfNative(probe, build, "user_id", "ms", "ms", Seq("dim_value"))
  }

  /** Forward as-of through the native operator: each probe attaches the
    * EARLIEST dimension version at-or-after its timestamp ("what will the
    * dimension become next" — the lookahead join backtesting needs).
    * DuckDB's native ASOF with a flipped inequality is the independent
    * oracle.
    */
  private def cdcAsofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).withColumn("ms", unix_millis(col("ts")))
    val build = ev
      .filter(col("event_id") % 11 === 0)
      .groupBy(col("user_id"), col("ms"))
      .agg(max(col("value")).as("dim_value"))
    val probe = ev
      .filter(col("event_id") % 11 =!= 0)
      .select(col("event_id"), col("user_id"), col("ms"))
    AsOfJoin.asOfNative(probe, build, "user_id", "ms", "ms", Seq("dim_value"), direction = "forward")
  }

  private val cdcAsofForwardSql =
    """WITH d AS (SELECT user_id, epoch_ms(ts) AS ms, max(value) AS dim_value
      |  FROM events WHERE event_id % 11 = 0 GROUP BY 1, 2),
      |e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
      |  FROM events WHERE event_id % 11 != 0)
      |SELECT e.event_id, e.user_id, e.ms, d.dim_value
      |FROM e ASOF LEFT JOIN d ON e.user_id = d.user_id AND e.ms <= d.ms""".stripMargin

  /** Backward as-of with a 1-hour tolerance: matches farther than the
    * bound become nulls (stale dimension versions are rejected, not
    * silently used). The oracle post-filters DuckDB's unbounded ASOF
    * match with the same bound.
    */
  private def cdcAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).withColumn("ms", unix_millis(col("ts")))
    val build = ev
      .filter(col("event_id") % 11 === 0)
      .groupBy(col("user_id"), col("ms"))
      .agg(max(col("value")).as("dim_value"))
    val probe = ev
      .filter(col("event_id") % 11 =!= 0)
      .select(col("event_id"), col("user_id"), col("ms"))
    AsOfJoin.asOfNative(
      probe, build, "user_id", "ms", "ms", Seq("dim_value"),
      tolerance = Some(3600000L)
    )
  }

  private val cdcAsofToleranceSql =
    """WITH d AS (SELECT user_id, epoch_ms(ts) AS ms, max(value) AS dim_value
      |  FROM events WHERE event_id % 11 = 0 GROUP BY 1, 2),
      |e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
      |  FROM events WHERE event_id % 11 != 0)
      |SELECT e.event_id, e.user_id, e.ms,
      |  CASE WHEN d.ms >= e.ms - 3600000 THEN d.dim_value END AS dim_value
      |FROM e ASOF LEFT JOIN d ON e.user_id = d.user_id AND e.ms >= d.ms""".stripMargin

  // ------------------------------------------------------ salted skew join

  /** Same semantics as cdc_enrich_join (and the same oracle), executed
    * through the salted-join path: the plan must differ, the answer must
    * not.
    */
  private def cdcEnrichSalted(s: SparkSession, dir: String): DataFrame = {
    val recs = graft.cdc.Envelope
      .extractAfter(graft.cdc.Envelope.synthesizeFromEvents(events(s, dir)))
      .withColumn("lookup_key", col("user_id") * 13)
    SkewJoin
      .saltedJoin(
        recs,
        customer(s, dir),
        "lookup_key",
        "c_custkey",
        Hashing.h32(col("id").cast("string")),
        buckets = 8
      )
      .select(col("id"), col("user_id"), col("event_type"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
  }

  // deliberately the same oracle as cdc_enrich_join: the salted physical
  // plan must produce the identical result set
  private val cdcEnrichSaltedSql =
    """SELECT event_id AS id, user_id, event_type, c_name, c_acctbal, c_mktsegment
      |FROM events JOIN customer ON user_id * 13 = c_custkey
      |WHERE event_id % 97 != 0 AND event_id % 89 != 0 AND event_id % 83 != 0""".stripMargin

  // ------------------------------------------------------- TPC-H-ish sweep

  private def q7(s: SparkSession, dir: String): DataFrame = {
    val cn = nation(s, dir).select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val sn = nation(s, dir).select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    lineitem(s, dir)
      .filter(col("l_shipdate") >= tsLit("1996-01-01") && col("l_shipdate") < tsLit("1998-01-01"))
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cn), col("c_nationkey") === col("c_nk"))
      .join(broadcast(sn), col("s_nationkey") === col("s_nk"))
      .filter(col("cust_nation") =!= col("supp_nation"))
      .groupBy(
        col("cust_nation"),
        col("supp_nation"),
        year(col("l_shipdate")).cast("long").as("l_year")
      )
      .agg(round(revenue, 2).cast("double").as("revenue"))
  }

  private val q7Sql =
    s"""SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
       |  CAST(round($revenueSql, 2) AS DOUBLE) AS revenue
       |FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation cn ON c_nationkey = cn.n_nationkey
       |  JOIN nation sn ON s_nationkey = sn.n_nationkey
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
       |  AND cn.n_name != sn.n_name
       |GROUP BY 1, 2, 3""".stripMargin

  private def q9(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .join(broadcast(part(s, dir).filter(col("p_name").like("%red%"))), col("l_partkey") === col("p_partkey"))
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(revenue, 2).cast("double").as("revenue"))

  private val q9Sql =
    s"""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  CAST(round($revenueSql, 2) AS DOUBLE) AS revenue
       |FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_name LIKE '%red%'
       |GROUP BY 1, 2""".stripMargin

  private def q13(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  private val q13Sql =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count""".stripMargin

  private def q14(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_shipdate") >= tsLit("1997-03-01") && col("l_shipdate") < tsLit("1997-04-01"))
      .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
      .agg(
        round(
          lit(100.0) *
            sum(when(col("p_type") === "PROMO", dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))).cast("double") /
            sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))).cast("double"),
          6
        ).as("promo_share")
      )

  private val q14Sql =
    s"""SELECT round(100.0 *
       |  CAST(sum(CASE WHEN p_type = 'PROMO'
       |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE) /
       |  CAST($revenueSql AS DOUBLE), 6) AS promo_share
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'""".stripMargin

  private def q18(s: SparkSession, dir: String): DataFrame = {
    val big = lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      .filter(col("sum_qty") > 150)
    big
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_custkey"),
        col("c_name"),
        col("o_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
        col("o_totalprice"),
        col("sum_qty")
      )
  }

  private val q18Sql =
    """SELECT c_custkey, c_name, o_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
      |  o_totalprice, sum_qty
      |FROM (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
      |      FROM lineitem GROUP BY l_orderkey) big
      |  JOIN orders ON big.l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |WHERE sum_qty > 150""".stripMargin

  private def q19(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_size") <= 10 && col("l_quantity").between(1, 15)) ||
          (col("p_type") === "PROMO" && col("l_quantity") > 25) ||
          (col("p_size") > 40 && col("l_discount") >= 0.05)
      )
      .agg(round(revenue, 2).cast("double").as("revenue"), count(lit(1)).as("n_items"))

  private val q19Sql =
    s"""SELECT CAST(round($revenueSql, 2) AS DOUBLE) AS revenue, count(*) AS n_items
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_size <= 10 AND l_quantity BETWEEN 1 AND 15)
       |   OR (p_type = 'PROMO' AND l_quantity > 25)
       |   OR (p_size > 40 AND l_discount >= 0.05)""".stripMargin

  private def q22(s: SparkSession, dir: String): DataFrame = {
    val avgBal = customer(s, dir)
      .filter(col("c_acctbal") > 0)
      .agg((sum(dec2(col("c_acctbal"))).cast("double") / count(lit(1))).as("avg_bal"))
    customer(s, dir)
      .join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), round(sum(dec2(col("c_acctbal"))), 2).cast("double").as("totacctbal"))
  }

  private val q22Sql =
    """SELECT c_nationkey, count(*) AS numcust,
      |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |                   FROM customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_nationkey""".stripMargin

  // ------------------------------------------------ dedup cluster collapse

  /** MinHash pairs collapsed to connected components — the canonical-doc
    * selection step. The oracle recomputes the same pairs and takes the
    * transitive closure with a recursive CTE: an entirely different
    * clustering algorithm must land on identical clusters.
    */
  private def dedupMinhashClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.operators.Dedup.minhashPairs(documents(s, dir), "doc_id", "text", 3, 0.5)
    graft.operators.Dedup
      .connectedComponents(pairs)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
  }

  private val dedupMinhashClustersSql =
    s"""WITH RECURSIVE mh AS (${QueriesExt.minhashPairsSql}),
       |edges AS (SELECT id_a AS a, id_b AS b FROM mh UNION SELECT id_b, id_a FROM mh),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
       |SELECT cluster_id, count(*) AS n_members FROM (
       |  SELECT src, min(dst) AS cluster_id FROM reach GROUP BY src)
       |GROUP BY cluster_id""".stripMargin

  // ----------------------------------------------------- banded range join

  /** Deterministic campaign intervals (40 six-hour windows every 18h from
    * the fixture epoch) range-joined to events via banding; the oracle
    * uses the plain non-equi BETWEEN join.
    */
  private def eventsRangeCampaigns(s: SparkSession, dir: String): DataFrame = {
    val baseMs = 1704067200000L // 2024-01-01T00:00Z — fixture epoch
    val campaigns = s
      .range(0, 40)
      .select(
        col("id").as("campaign_id"),
        (lit(baseMs) + col("id") * lit(64800000L)).as("start_ms"),
        (lit(baseMs) + col("id") * lit(64800000L) + lit(21600000L)).as("end_ms")
      )
    val pts = events(s, dir).select(unix_millis(col("ts")).as("ms"), col("user_id"))
    operators.RangeJoin
      .pointInInterval(pts, campaigns, "ms", "start_ms", "end_ms", bandWidth = 21600000L)
      .groupBy(col("campaign_id"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
  }

  private val eventsRangeCampaignsSql =
    """WITH c AS (SELECT i AS campaign_id,
      |    1704067200000 + i*64800000 AS start_ms,
      |    1704067200000 + i*64800000 + 21600000 AS end_ms
      |  FROM range(0,40) t(i)),
      |e AS (SELECT epoch_ms(ts) AS ms, user_id FROM events)
      |SELECT campaign_id, count(*) AS n_events, count(DISTINCT user_id) AS n_users
      |FROM e JOIN c ON e.ms >= c.start_ms AND e.ms < c.end_ms
      |GROUP BY campaign_id""".stripMargin

  // ------------------------------------------------------------- sketches

  /** Approximate aggregations for 100 TB interactive profiling: HLL
    * distinct counts and quantile sketches. The approximate values
    * themselves are engine-specific (HLL register layout, KLL summary), so
    * the output carries the exact companions plus in-query error-bound
    * assertions: `approx_users_ok` / `approx_median_ok` must be true (the
    * oracle emits literal TRUE, so a sketch drifting outside its
    * advertised bound turns the row red in the gate).
    */
  private def qApproxSketches(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        // accuracy 1000 ≈ 0.1% rank error — plenty for profiling, and the
        // KLL-style summary insert cost scales with the compression target
        expr("approx_percentile(value, 0.5, 1000)").as("approx_median"),
        expr("percentile(value, 0.5)").as("exact_median"),
        count(lit(1)).as("n_events")
      )
      .select(
        col("event_type"),
        col("exact_users"),
        round(col("exact_median"), 4).as("exact_median"),
        col("n_events"),
        // default HLL rsd is 5%; 15% is a loose-but-meaningful outer bound
        (abs(col("approx_users") - col("exact_users")) / col("exact_users") < 0.15).as("approx_users_ok"),
        (abs(col("approx_median") - col("exact_median")) / abs(col("exact_median")) < 0.05).as("approx_median_ok")
      )

  private val qApproxSketchesSql =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
      |  round(quantile_cont(value, 0.5), 4) AS exact_median, count(*) AS n_events,
      |  TRUE AS approx_users_ok, TRUE AS approx_median_ok
      |FROM events GROUP BY 1""".stripMargin

  /** IVF ANN over the embeddings fixture (8 cells, 2 probes, top-5 for
    * queries vec_id < 10). The index is fully deterministic — md5-picked
    * seed centroids, argmin cell assignment, (distance, cell) probe order —
    * so DuckDB replays the exact same index build and search, making the
    * one genuinely approximate-index path oracle-checked end to end.
    */
  private def simIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    operators.Similarity.ivfTopK(
      emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 2
    )
  }

  private val simIvfTopKSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |seeds AS (SELECT vec_id AS cell_id, e AS ce FROM v
      |          ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 8),
      |assign AS (
      |  SELECT vec_id, e, cell_id FROM (
      |    SELECT v.vec_id, v.e, s.cell_id,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_dot_product(v.e, v.e) - 2.0*list_dot_product(v.e, s.ce) + list_dot_product(s.ce, s.ce) ASC,
      |        s.cell_id ASC) AS rn
      |    FROM v CROSS JOIN seeds s)
      |  WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, e AS qe, cell_id FROM (
      |    SELECT v.vec_id, v.e, s.cell_id,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        list_dot_product(v.e, v.e) - 2.0*list_dot_product(v.e, s.ce) + list_dot_product(s.ce, s.ce) ASC,
      |        s.cell_id ASC) AS rn
      |    FROM v CROSS JOIN seeds s
      |    WHERE v.vec_id < 10)
      |  WHERE rn <= 2),
      |scored AS (
      |  SELECT p.query_id, a.vec_id AS corpus_id,
      |    round(list_cosine_similarity(p.qe, a.e), 6) AS cosine
      |  FROM probes p JOIN assign a ON a.cell_id = p.cell_id AND a.vec_id != p.query_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, corpus_id, cosine, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5""".stripMargin

  // ------------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_minhash_clusters", Seq("B3"), dedupMinhashClusters, dedupMinhashClustersSql),
    QuerySpec("events_range_campaigns", Seq("B9"), eventsRangeCampaigns, eventsRangeCampaignsSql),
    // sketch values are engine-specific; the oracle checks the exact
    // companions and expects the in-query error-bound booleans to be TRUE
    QuerySpec("q_approx_sketches", Seq("B14"), qApproxSketches, qApproxSketchesSql),
    // the deterministic IVF index (md5-seeded coarse quantizer) is replayed
    // exactly by DuckDB — index build, probe selection, and final ranking
    QuerySpec("sim_ivf_topk", Seq("B4"), simIvfTopK, simIvfTopKSql),
    QuerySpec("cdc_asof_enrich", Seq("B9"), cdcAsofEnrich, cdcAsofEnrichSql),
    // the native (custom SparkPlan) route must land on the identical result
    QuerySpec("cdc_asof_native", Seq("B9"), cdcAsofNative, cdcAsofEnrichSql),
    QuerySpec("cdc_asof_forward", Seq("B9"), cdcAsofForward, cdcAsofForwardSql),
    QuerySpec("cdc_asof_tolerance", Seq("B9"), cdcAsofTolerance, cdcAsofToleranceSql),
    QuerySpec("cdc_enrich_salted", Seq("A5", "B9"), cdcEnrichSalted, cdcEnrichSaltedSql),
    QuerySpec("q7_volume_shipping", Seq("B8"), q7, q7Sql),
    QuerySpec("q9_product_revenue", Seq("B8"), q9, q9Sql),
    QuerySpec("q13_order_dist", Seq("B8"), q13, q13Sql),
    QuerySpec("q14_promo_share", Seq("B8"), q14, q14Sql),
    QuerySpec("q18_large_orders", Seq("B8"), q18, q18Sql),
    QuerySpec("q19_disjunctive", Seq("B8"), q19, q19Sql),
    QuerySpec("q22_idle_customers", Seq("B8"), q22, q22Sql)
  )
}
