package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 39: graph density structure (k-core
  * peeling) and the privacy audit beside B54's k-anonymity
  * (l-diversity — group SIZE is not enough when every member shares the
  * sensitive value).
  */
object QueriesExt46 {

  // --------------------------- k-core peel profile (B220)

  /** Four deterministic rounds of k=3 core peeling on the support-≥2
    * co-purchase graph (edges shared with B148/B154 via
    * `GraphOps.copurchaseEdges`): each round removes nodes of degree
    * < 3 and the edges they carried; emitted is the (round, nodes,
    * edges) shrink profile, the density fingerprint that tells a graph
    * pipeline whether the heavy tail is a real dense core (curve
    * flattens: survivors keep surviving) or degree-1 fluff around hubs
    * (curve collapses). Fixed round count keeps the result a
    * deterministic cross-engine artifact; the same loop run to
    * fixpoint is the full k-core decomposition (bounded by the max
    * core number — small for sparse real graphs).
    *
    * Scale shape: per round, one degree hash-agg over the edge list +
    * two semi-joins — all keyed shuffles on node ids, no per-node
    * iteration on the driver (only the 1-row per-round counts are
    * collected); `localCheckpoint` flattens lineage per round exactly
    * as `graph_components` does. Edge build is the two-hash-agg array
    * form (no distinct+self-join).
    */
  private def graphKcorePeel(s: SparkSession, dir: String): DataFrame = {
    val kk     = 3
    val rounds = 4
    // round-0 edges: the session-cached copurchase stage is ALREADY an
    // eager localCheckpoint — re-checkpointing it (the pre-r15 form) only
    // copied the edge RDD once per query
    var edges: DataFrame = graft.operators.GraphOps.copurchaseEdges(lineitem(s, dir), 2L)
    val profile = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    // one explode-agg job per round for BOTH profile numbers: exploded
    // endpoint rows = 2·|edges| exactly, distinct endpoints = node count
    // (pre-r15: a union-distinct count plus a separate edge count — two
    // jobs per round for the same two scalars)
    def stats(e: DataFrame): (Long, Long) = {
      val r = e.select(explode(array(col("u"), col("v"))).as("n"))
        .agg(countDistinct(col("n")).as("nodes"), count(lit(1)).as("ends"))
        .head()
      (r.getLong(0), r.getLong(1) / 2)
    }
    val (n0, e0) = stats(edges)
    profile += ((0L, n0, e0))
    for (r <- 1 to rounds) {
      val deg = edges
        .select(col("u").as("node"))
        .union(edges.select(col("v").as("node")))
        .groupBy(col("node"))
        .agg(count(lit(1)).as("dg"))
      val keep = deg.filter(col("dg") >= kk).select(col("node"))
      edges = edges
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint()
      val (nr, er) = stats(edges)
      profile += ((r.toLong, nr, er))
    }
    import s.implicits._
    profile.toSeq.toDF("round", "n_nodes", "n_edges")
  }

  private val graphKcorePeelSql = {
    // round r edge set: both endpoints have degree >= 3 in round r-1.
    // Every CTE is MATERIALIZED: the chain e4→e3→e2→e1→e0 is referenced
    // from five count branches, and DuckDB's default CTE inlining
    // re-expands the whole chain per reference — exponential blowup
    // (observed: >4 min inlined vs 0.1 s materialized at sf0.01).
    def peel(prev: String, cur: String): String =
      s"""d$cur AS MATERIALIZED (
         |  SELECT node, count(*) AS dg FROM (
         |    SELECT u AS node FROM e$prev UNION ALL SELECT v AS node FROM e$prev) t
         |  GROUP BY 1),
         |k$cur AS MATERIALIZED (SELECT node FROM d$cur WHERE dg >= 3),
         |e$cur AS MATERIALIZED (
         |  SELECT u, v FROM e$prev
         |  WHERE u IN (SELECT node FROM k$cur) AND v IN (SELECT node FROM k$cur))""".stripMargin
    def cnt(r: Int): String =
      s"""SELECT $r AS round,
         |  (SELECT count(*) FROM (SELECT u AS n FROM e$r UNION SELECT v FROM e$r) t) AS n_nodes,
         |  (SELECT count(*) FROM e$r) AS n_edges""".stripMargin
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT a.pk AS u, b.pk AS v
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |${peel("0", "1")},
       |${peel("1", "2")},
       |${peel("2", "3")},
       |${peel("3", "4")}
       |SELECT CAST(round AS BIGINT) AS round, CAST(n_nodes AS BIGINT) AS n_nodes,
       |       CAST(n_edges AS BIGINT) AS n_edges
       |FROM (${cnt(0)} UNION ALL ${cnt(1)} UNION ALL ${cnt(2)} UNION ALL ${cnt(3)} UNION ALL ${cnt(4)}) p""".stripMargin
  }

  // --------------------------- l-diversity audit (B221)

  /** l-diversity over the published-aggregate cells (event_type × hour
    * of day), sensitive attribute = user identity: a cell whose events
    * all come from fewer than l = 3 distinct users re-identifies them
    * no matter how large the event count is — the gap B54's
    * k-anonymity (which only checks group SIZE) cannot see. Emits per
    * cell the event count, distinct-user count, and the l_ok flag the
    * release gate reads.
    *
    * Scale shape: one (type, hour) aggregate with a distinct-user
    * count — partial aggregation on (type, hour, user) first, so the
    * shuffle carries at most |cells| × |users-per-cell| pre-deduped
    * rows; output bounded at types × 24.
    */
  private def qLDiversity(s: SparkSession, dir: String): DataFrame = {
    val l = 3
    events(s, dir)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hour_of_day"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users")
      )
      .withColumn("l_ok", when(col("n_users") >= l, lit(1L)).otherwise(lit(0L)))
  }

  private val qLDiversitySql =
    """SELECT event_type,
      |  CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(count(DISTINCT user_id) >= 3 AS BIGINT) AS l_ok
      |FROM events GROUP BY 1, 2""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("graph_kcore_peel", Seq("B220"), graphKcorePeel, graphKcorePeelSql),
    QuerySpec("q_l_diversity", Seq("B221"), qLDiversity, qLDiversitySql)
  )
}
