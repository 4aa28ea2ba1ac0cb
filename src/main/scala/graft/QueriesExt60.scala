package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._
import graft.operators.Similarity

/** Round-10 additions, batch 53: the third ANN paradigm — GRAPH-based
  * search (greedy walk on the B29 kNN graph; IVF partitions and
  * hash/PQ compression are B4/B21/B155's other two) — and time-to-event
  * analytics (Kaplan–Meier), the censoring-aware lens the retention/
  * latency views (B40/B78) approximate without.
  */
object QueriesExt60 {

  // --------------------------- greedy kNN-graph search (B244)

  /** Greedy best-first walk over the B29 kNN graph
    * (`sim_nsw_greedy`): from one global md5-ranked entry vertex, each
    * query repeatedly moves to the best-scoring vertex among the current
    * vertex and its ≤3 graph neighbors (cosine to the query, B4's
    * round-6 convention, ties by id) for 6 fixed hops — the NSW/HNSW
    * layer-0 search kernel. Emits, per query, where the walk lands vs
    * the true nearest neighbor, the cosine regret in micro-units, and a
    * hit flag — the navigability certificate for the graph B29 builds
    * (a kNN graph with no long-range edges can trap greedy search in a
    * local cluster; that failure shows up HERE, not in B29's edge list).
    * The query vertex itself is excluded from candidates (it is in the
    * corpus and would absorb the walk at cosine 1).
    *
    * Scale shape: the graph build is B29's banded-LSH + bounded-heap
    * TopKBy pass (never all-pairs); each hop is a ≤queries-row frontier
    * BROADCAST against the graph's src key then against the vector
    * table — two equi-joins per hop, no nested loop over data;
    * localCheckpoint per hop keeps the 6-hop lineage flat. The
    * full-corpus exact pass exists only to certify, as in B242.
    */
  private def simNswGreedy(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val v = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .localCheckpoint()
    val g3 = Similarity
      .knnGraph(emb, "vec_id", "embedding", k = 3, tau = 0.0,
        bitsPerBand = Similarity.bitsFor(emb.count()))
      .select(col("vec_id").as("src"), col("nbr_id"))
      .localCheckpoint(true)
    val entry = v
      .select(col("vec_id"), md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h").asc, col("vec_id").asc)
      .limit(1)
      .select(col("vec_id").as("cur"))
    val probes = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
    var f = probes.crossJoin(broadcast(entry)).localCheckpoint(true)
    for (_ <- 1 to 6) {
      // the frontier (and everything derived from it) is ≤ queries rows;
      // Spark's post-join size estimate after the g3 join is corpus-scaled,
      // so WITHOUT the explicit broadcast the per-hop vector join planned
      // sort-merge and re-sorted the 200 k-row vector table EVERY hop
      // (sf10: walk ≈ 85 s; broadcast frontier: one streamed scan per hop)
      val cands = g3
        .join(broadcast(f), col("cur") === col("src"))
        .select(col("query_id"), col("qe"), col("nbr_id").as("id"))
        .unionByName(f.select(col("query_id"), col("qe"), col("cur").as("id")))
        .where(col("id") =!= col("query_id"))
      f = v.select(col("vec_id").as("id"), col("e").as("ce"))
        .join(broadcast(cands), Seq("id"))
        .withColumn("sc", round(Similarity.cosine(col("qe"), col("ce")), 6))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("sc").desc, col("id").asc)))
        .where(col("rn") === 1)
        .select(col("query_id"), col("qe"), col("id").as("cur"))
        .localCheckpoint(true)
    }
    val walk = v.select(col("vec_id").as("cur"), col("e").as("ce"))
      .join(broadcast(f), Seq("cur"))
      .select(col("query_id"), col("cur").as("walk_id"),
        round(Similarity.cosine(col("qe"), col("ce")), 6).as("walk_cosine"))
    // r16: the k=1 truth is the rank-1 slice of the session-shared q<50
    // top-10 stage — the same (cosine desc, id asc) ranking, restricted
    val truth = Similarity
      .truthTop10(emb, "vec_id", "embedding")
      .filter(col("query_id") < 10 && col("rank") === 1)
      .select(col("query_id"), col("corpus_id").as("nn_id"), col("cosine").as("nn_cosine"))
    truth
      .join(broadcast(walk), Seq("query_id"), "left")
      .select(
        col("query_id"), col("walk_id"), col("walk_cosine"),
        col("nn_id"), col("nn_cosine"),
        expr("CAST(round((nn_cosine - coalesce(walk_cosine, -1.0)) * 1000000, 0) AS BIGINT)")
          .as("regret_micro"),
        when(col("walk_id") === col("nn_id"), 1L).otherwise(0L).as("hit"))
  }

  private val simNswGreedySql = {
    def step(prev: Int, cur: Int): String =
      s"""c$cur AS (
         |  SELECT f.query_id, f.qe, g.nbr AS id FROM f$prev f JOIN g3 g ON g.src = f.cur
         |  UNION ALL SELECT query_id, qe, cur FROM f$prev),
         |f$cur AS MATERIALIZED (
         |  SELECT query_id, qe, id AS cur FROM (
         |    SELECT c.query_id, c.qe, c.id,
         |      row_number() OVER (PARTITION BY c.query_id ORDER BY
         |        round(list_cosine_similarity(c.qe, w.e), 6) DESC, c.id ASC) AS rn
         |    FROM c$cur c JOIN v w ON w.vec_id = c.id
         |    WHERE c.id != c.query_id)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH ${QueriesExt10.rpCandPairsSql("0.0")},
       |sym AS (SELECT id_a AS src, id_b AS nbr, cosine FROM pairs
       |        UNION ALL SELECT id_b, id_a, cosine FROM pairs),
       |g3 AS MATERIALIZED (SELECT src, nbr FROM (
       |    SELECT src, nbr, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, nbr ASC) AS rn
       |    FROM sym)
       |  WHERE rn <= 3),
       |entry AS (SELECT vec_id AS cur FROM v
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 1),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
       |f0 AS MATERIALIZED (SELECT q.query_id, q.qe, e.cur FROM q, entry e),
       |${step(0, 1)},
       |${step(1, 2)},
       |${step(2, 3)},
       |${step(3, 4)},
       |${step(4, 5)},
       |${step(5, 6)},
       |walk AS (
       |  SELECT f.query_id, f.cur AS walk_id,
       |    round(list_cosine_similarity(f.qe, w.e), 6) AS walk_cosine
       |  FROM f6 f JOIN v w ON w.vec_id = f.cur),
       |truth AS (
       |  SELECT query_id, nn_id, nn_cosine FROM (
       |    SELECT a.vec_id AS query_id, c.vec_id AS nn_id,
       |      round(list_cosine_similarity(a.e, c.e), 6) AS nn_cosine,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        round(list_cosine_similarity(a.e, c.e), 6) DESC, c.vec_id ASC) AS rank
       |    FROM v a JOIN v c ON c.vec_id != a.vec_id
       |    WHERE a.vec_id < 10)
       |  WHERE rank = 1)
       |SELECT t.query_id, w.walk_id, w.walk_cosine, t.nn_id, t.nn_cosine,
       |  CAST(round((t.nn_cosine - coalesce(w.walk_cosine, -1.0)) * 1000000) AS BIGINT)
       |    AS regret_micro,
       |  CAST(CASE WHEN w.walk_id = t.nn_id THEN 1 ELSE 0 END AS BIGINT) AS hit
       |FROM truth t LEFT JOIN walk w USING (query_id)""".stripMargin
  }

  // --------------------------- Kaplan–Meier conversion survival (B245)

  /** Kaplan–Meier estimate of time-to-first-purchase
    * (`events_survival_km`): per user, duration = days from first
    * activity to first purchase (event) or to last observed activity
    * (right-censored) — the censoring-aware answer to "how long until
    * users convert" that a naive mean-of-converters biases low. At each
    * duration with ≥1 conversion: the risk set (users still unconverted
    * and observed), conversions, same-day censorings, and the KM step
    * ln(1 − d/n) with its running sum — in exact integer micro-nats via
    * B184's snap convention (each ln is of an INTEGER, rounded to 6 dp
    * and scaled before any aggregation, so both engines sum identical
    * BIGINTs; survival itself is exp(cum/1e6), left to the reader so no
    * cross-libm exp enters the hash). The final step is NULL if the
    * entire remaining risk set converts (S reaches exact 0).
    *
    * Scale shape: one events pass → per-USER first/last/first-purchase
    * (map-side combined, user-bounded); everything after runs on the
    * distinct-duration table, bounded by the observation window in DAYS
    * — the global windows (reverse-cumulative risk set, running
    * log-survival) are bounded-domain by construction, never
    * event-count-sized.
    */
  private def eventsSurvivalKm(s: SparkSession, dir: String): DataFrame = {
    def snap(x: String): org.apache.spark.sql.Column =
      expr(s"CAST(round(round(ln(CAST(($x) AS DOUBLE)), 6) * 1000000, 0) AS BIGINT)")
    val per = events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        min(to_date(col("ts"))).as("d0"),
        max(to_date(col("ts"))).as("dlast"),
        min(when(col("event_type") === "purchase", to_date(col("ts")))).as("dp"))
    val durs = per.select(
      when(col("dp").isNotNull, datediff(col("dp"), col("d0")))
        .otherwise(datediff(col("dlast"), col("d0"))).cast("long").as("dur"),
      when(col("dp").isNotNull, 1L).otherwise(0L).as("ev"))
    val byDur = durs.groupBy(col("dur"))
      .agg(count(lit(1)).as("n_all"), sum(col("ev")).as("n_event"))
    val wRisk = Window.orderBy(col("dur").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy(col("dur").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur
      .withColumn("n_risk", sum(col("n_all")).over(wRisk))
      .where(col("n_event") > 0)
      .withColumn("n_censored", col("n_all") - col("n_event"))
      .withColumn("step_lnS_micro",
        when(col("n_risk") === col("n_event"), lit(null).cast("long"))
          .otherwise(snap("n_risk - n_event") - snap("n_risk")))
      .withColumn("cum_lnS_micro",
        when(col("step_lnS_micro").isNull, lit(null).cast("long"))
          .otherwise(sum(col("step_lnS_micro")).over(wCum)))
      .select(col("dur").as("dur_day"), col("n_risk"), col("n_event"),
        col("n_censored"), col("step_lnS_micro"), col("cum_lnS_micro"))
  }

  private val eventsSurvivalKmSql = {
    def snap(x: String): String =
      s"CAST(round(round(ln(CAST(($x) AS DOUBLE)), 6) * 1000000) AS BIGINT)"
    s"""WITH per AS (
       |  SELECT user_id,
       |    min(CAST(ts AS DATE)) AS d0,
       |    max(CAST(ts AS DATE)) AS dlast,
       |    min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS dp
       |  FROM events GROUP BY 1),
       |durs AS (
       |  SELECT CASE WHEN dp IS NOT NULL THEN date_diff('day', d0, dp)
       |              ELSE date_diff('day', d0, dlast) END AS dur,
       |         CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS ev
       |  FROM per),
       |by_dur AS (
       |  SELECT dur, count(*) AS n_all, CAST(sum(ev) AS BIGINT) AS n_event
       |  FROM durs GROUP BY 1),
       |risk AS (
       |  SELECT dur, n_all, n_event,
       |    CAST(sum(n_all) OVER (ORDER BY dur ASC
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
       |  FROM by_dur),
       |km AS (
       |  SELECT dur AS dur_day, n_risk, n_event, n_all - n_event AS n_censored,
       |    CASE WHEN n_risk = n_event THEN NULL
       |         ELSE ${snap("n_risk - n_event")} - ${snap("n_risk")} END AS step_lnS_micro
       |  FROM risk WHERE n_event > 0)
       |SELECT dur_day, n_risk, n_event, CAST(n_censored AS BIGINT) AS n_censored,
       |  step_lnS_micro,
       |  CASE WHEN step_lnS_micro IS NULL THEN NULL
       |       ELSE CAST(sum(step_lnS_micro) OVER (ORDER BY dur_day ASC
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |  END AS cum_lnS_micro
       |FROM km""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_nsw_greedy", Seq("B244"), simNswGreedy, simNswGreedySql),
    QuerySpec("events_survival_km", Seq("B245"), eventsSurvivalKm, eventsSurvivalKmSql)
  )
}
