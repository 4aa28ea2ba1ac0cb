package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-11 additions, batch 49: coordinated (join-preserving) sampling
  * with the orphan cost of independent sampling measured beside it
  * (B271), exact weighted quantiles over a value-bounded domain (B272),
  * and the clustering coefficient on the shared degree-ordered triangle
  * operator (B273 — second consumer of GraphOps.orientedTriangles).
  */
object QueriesExt75 {

  // --------------------------- coordinated sampling (B271)

  /** Join-preserving sample certification (`q_coordinated_sample`):
    * sampling BOTH sides of a join by the SAME hash of the JOIN KEY
    * (customers at 10% by h(custkey); orders inherit via their
    * o_custkey) keeps every sampled fact row joinable — zero orphans BY
    * CONSTRUCTION — while sampling each table independently at 10%
    * orphans ~90% of sampled facts. Emits both orphan counts measured
    * side by side: the table that justifies coordinated/bottom-k
    * sampling (B16's hash-sample) as the only way to build a joinable
    * dev slice of a 100 TB star schema.
    *
    * Scale shape: sample membership is a pure hash predicate fused into
    * each scan (no sampling shuffle); the orphan checks are key-joins
    * on the 10% slices; output is one row.
    */
  private def qCoordinatedSample(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing
    val cust = customer(s, dir).select(col("c_custkey"))
    val ord  = orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    def keep(tag: String, c: org.apache.spark.sql.Column) =
      Hashing.h32(concat(lit(tag), c.cast("string"))) % 10 === 0
    // coordinated: both sides keyed by custkey under the SAME tag
    val cCoord = cust.where(keep("cs:", col("c_custkey")))
    val oCoord = ord.where(keep("cs:", col("o_custkey")))
    // independent: each table sampled by its own key/tag
    val cInd = cust.where(keep("ci:", col("c_custkey")))
    val oInd = ord.where(keep("oi:", col("o_orderkey")))
    val coordOrphans = oCoord
      .join(cCoord, col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orphans_coordinated"))
    val indOrphans = oInd
      .join(cInd, col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orphans_independent"))
    val sizes = cCoord.agg(count(lit(1)).as("n_cust_coord"))
      .crossJoin(broadcast(oCoord.agg(count(lit(1)).as("n_orders_coord"))))
      .crossJoin(broadcast(cInd.agg(count(lit(1)).as("n_cust_ind"))))
      .crossJoin(broadcast(oInd.agg(count(lit(1)).as("n_orders_ind"))))
    sizes
      .crossJoin(broadcast(coordOrphans))
      .crossJoin(broadcast(indOrphans))
      .select(
        col("n_cust_coord"), col("n_orders_coord"), col("orphans_coordinated"),
        col("n_cust_ind"), col("n_orders_ind"), col("orphans_independent"),
        expr("orphans_independent * 1000000 div greatest(n_orders_ind, 1L)")
          .as("independent_orphan_ppm"))
  }

  private val qCoordinatedSampleSql = {
    def h(tag: String, x: String) =
      s"CAST('0x' || substr(md5('$tag' || CAST($x AS VARCHAR)), 1, 8) AS BIGINT) % 10 = 0"
    s"""WITH cc AS (SELECT c_custkey FROM customer WHERE ${h("cs:", "c_custkey")}),
       |oc AS (SELECT o_orderkey, o_custkey FROM orders WHERE ${h("cs:", "o_custkey")}),
       |ci AS (SELECT c_custkey FROM customer WHERE ${h("ci:", "c_custkey")}),
       |oi AS (SELECT o_orderkey, o_custkey FROM orders WHERE ${h("oi:", "o_orderkey")}),
       |corph AS (SELECT count(*) AS orphans_coordinated FROM oc
       |  WHERE NOT EXISTS (SELECT 1 FROM cc WHERE cc.c_custkey = oc.o_custkey)),
       |iorph AS (SELECT count(*) AS orphans_independent FROM oi
       |  WHERE NOT EXISTS (SELECT 1 FROM ci WHERE ci.c_custkey = oi.o_custkey))
       |SELECT (SELECT count(*) FROM cc) AS n_cust_coord,
       |  (SELECT count(*) FROM oc) AS n_orders_coord,
       |  corph.orphans_coordinated,
       |  (SELECT count(*) FROM ci) AS n_cust_ind,
       |  (SELECT count(*) FROM oi) AS n_orders_ind,
       |  iorph.orphans_independent,
       |  iorph.orphans_independent * 1000000
       |    // greatest((SELECT count(*) FROM oi), 1) AS independent_orphan_ppm
       |FROM corph, iorph""".stripMargin
  }

  // --------------------------- weighted quantiles (B272)

  /** Revenue-weighted quantity percentiles (`q_weighted_quantiles`):
    * "the p50 ORDER LINE ships 25 units, but the p50 REVENUE DOLLAR
    * ships on a 3x-unit line" — each quantity value weighted by its
    * exact revenue cents, quantiles read from the cumulative weight at
    * the B213 rank convention (`cum ≥ (q·T + T) div 100` boundary
    * handling via cum ≥ ceil-free integer form), with the unweighted
    * percentile beside it. Exact: weights are DECIMAL(18,2) cents
    * (BIGINT), the domain is the value-bounded quantity column (≤50
    * distinct), everything integer.
    *
    * Scale shape: one map-side (quantity → Σcents, Σlines) agg over the
    * scan; the quantile windows run over the ≤50-row histogram.
    */
  private def qWeightedQuantiles(s: SparkSession, dir: String): DataFrame = {
    // the ≤50-row histogram feeds seven consumers (3 quantiles × 2
    // rules + totals) — materialize the expensive-scan/tiny-result
    // table once instead of re-scanning lineitem per consumer
    val hist = lineitem(s, dir)
      .groupBy(col("l_quantity").cast("long").as("qty"))
      .agg(
        sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("w"),
        count(lit(1)).as("n"))
      .localCheckpoint(true)
    val wAsc = Window.orderBy(col("qty").asc)
    val cum = hist
      .withColumn("cw", sum(col("w")).over(wAsc))
      .withColumn("cn", sum(col("n")).over(wAsc))
      .crossJoin(broadcast(hist.agg(sum(col("w")).as("tw"), sum(col("n")).as("tn"))))
    Seq(50, 90, 99)
      .map { q =>
        cum
          .where(col("cw") * 100 >= col("tw") * q)
          .agg(min(col("qty")).as("weighted_qty"))
          .withColumn("q", lit(q.toLong))
          .crossJoin(broadcast(
            cum.where(col("cn") * 100 >= col("tn") * q).agg(min(col("qty")).as("unweighted_qty"))))
      }
      .reduce(_ unionByName _)
      .select(col("q"), col("weighted_qty"), col("unweighted_qty"))
  }

  private val qWeightedQuantilesSql =
    """WITH hist AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS w,
      |    count(*) AS n
      |  FROM lineitem GROUP BY 1),
      |cum AS (
      |  SELECT qty,
      |    sum(w) OVER (ORDER BY qty ASC) AS cw,
      |    sum(n) OVER (ORDER BY qty ASC) AS cn,
      |    (SELECT sum(w) FROM hist) AS tw,
      |    (SELECT sum(n) FROM hist) AS tn
      |  FROM hist),
      |qs AS (SELECT unnest([50, 90, 99]) AS q)
      |SELECT CAST(qs.q AS BIGINT) AS q,
      |  (SELECT min(qty) FROM cum WHERE cw * 100 >= tw * qs.q) AS weighted_qty,
      |  (SELECT min(qty) FROM cum WHERE cn * 100 >= tn * qs.q) AS unweighted_qty
      |FROM qs""".stripMargin

  // --------------------------- clustering coefficient (B273)

  /** Local clustering coefficient over the co-purchase graph
    * (`graph_clustering_coeff`): per node, closed wedges / possible
    * wedges (2·tri_u / k_u(k_u−1)), averaged per degree bucket
    * (bit-length of k — exact integer bucketing) with the global
    * transitivity 3T/Σ(k choose 2) beside it. High C at low degree +
    * falling with k is the small-world signature; flat-low C says the
    * co-purchase graph is bipartite-ish (baskets, not cliques). Second
    * consumer of GraphOps.orientedTriangles — B229's exact-once
    * triangle stream, credited to corners instead of edges.
    *
    * Scale shape: triangle enumeration is the shared Σ outdeg² operator;
    * corner credit is a bounded explode + hash-agg; the rollup is
    * ≤64-bucket; the global row is a 1-row broadcast.
    */
  private def graphClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.operators.GraphOps.copurchaseEdges(lineitem(s, dir), 2L)
      .localCheckpoint(true)
    val adj = edges
      .select(col("u").as("node"), col("v").as("nb"))
      .union(edges.select(col("v").as("node"), col("u").as("nb")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("k"))
    val triPerNode = graft.operators.GraphOps.orientedTriangles(edges)
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("tri"))
    val perNode = deg
      .where(col("k") >= 2)
      .join(triPerNode, Seq("node"), "left")
      .na.fill(0L, Seq("tri"))
      .select(
        col("node"), col("k"), col("tri"),
        expr("2 * tri * 1000000 div (k * (k - 1))").as("c_ppm"))
    val global = perNode
      .agg(
        expr("CAST(sum(tri) div 3 AS BIGINT)").as("n_triangles"),
        expr("CAST(sum(tri) * 1000000 div sum(k * (k - 1))  AS BIGINT)").as("global_transitivity_ppm"))
    perNode
      .groupBy(length(expr("bin(k)")).cast("long").as("degree_bucket"))
      .agg(
        count(lit(1)).as("n_nodes"),
        expr("CAST(sum(c_ppm) div count(1) AS BIGINT)").as("avg_c_ppm"))
      .crossJoin(broadcast(global))
  }

  private val graphClusteringCoeffSql =
    """WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM pp a JOIN pp b ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS MATERIALIZED (
      |  SELECT u AS node, v AS nb FROM e0 UNION ALL SELECT v AS node, u AS nb FROM e0),
      |deg AS MATERIALIZED (SELECT node, count(*) AS k FROM adj GROUP BY 1),
      |tris AS MATERIALIZED (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e0 e1 JOIN e0 e2 ON e2.u = e1.v
      |  WHERE EXISTS (SELECT 1 FROM e0 e3 WHERE e3.u = e1.u AND e3.v = e2.v)),
      |tpn AS (
      |  SELECT node, count(*) AS tri FROM (
      |    SELECT unnest([a, b, c]) AS node FROM tris) GROUP BY 1),
      |per_node AS (
      |  SELECT d.node, d.k, coalesce(t.tri, 0) AS tri,
      |    2 * coalesce(t.tri, 0) * 1000000 // (d.k * (d.k - 1)) AS c_ppm
      |  FROM deg d LEFT JOIN tpn t ON t.node = d.node
      |  WHERE d.k >= 2),
      |g AS (
      |  SELECT CAST(sum(tri) // 3 AS BIGINT) AS n_triangles,
      |    CAST(sum(tri) * 1000000 // sum(k * (k - 1)) AS BIGINT) AS global_transitivity_ppm
      |  FROM per_node)
      |SELECT CAST(len(bin(p.k)) AS BIGINT) AS degree_bucket,
      |  count(*) AS n_nodes,
      |  CAST(sum(c_ppm) // count(*) AS BIGINT) AS avg_c_ppm,
      |  g.n_triangles, g.global_transitivity_ppm
      |FROM per_node p, g
      |GROUP BY 1, 4, 5""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_coordinated_sample", Seq("B271"), qCoordinatedSample, qCoordinatedSampleSql),
    QuerySpec("q_weighted_quantiles", Seq("B272"), qWeightedQuantiles, qWeightedQuantilesSql),
    QuerySpec("graph_clustering_coeff", Seq("B273"), graphClusteringCoeff, graphClusteringCoeffSql)
  )
}
