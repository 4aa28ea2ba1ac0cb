package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-11 additions, batch 44: one distributed Louvain refinement pass
  * over the brand partition (B258 — the "can a learned community beat
  * the taxonomy" step B239's modularity table exists to price), the
  * Hamming-shortlist → exact-rerank recall curve (B259 — cashing B222's
  * "binarization justifies shortlist+rerank" conclusion with the actual
  * compound recall), the top-k mergeability certification (B260 — daily
  * leaderboard merge vs the exact global answer, loss measured), and
  * degree assortativity (B261).
  */
object QueriesExt70 {

  // --------------------------- one Louvain pass over brands (B258)

  /** One distributed Louvain refinement pass (`graph_louvain_pass`) on
    * the B148 co-purchase graph, starting from the catalog's brand
    * partition: every node evaluates the exact modularity gain of moving
    * to each NEIGHBORING community (the only moves Louvain considers)
    * and takes the argmax, all moves applied simultaneously. Emits the
    * resulting community sizes with Q before/after (B239's exact
    * integer form) and the move count beside them.
    *
    * Scoring is the textbook ΔQ with u removed from its community
    * first, scaled by 4m² to stay integer: S(u→c) = 4m·k_{u,c} −
    * 2·k_u·Σ'_c (Σ'_c drops k_u when c is u's own community); argmax
    * with deterministic ties (stay, then smallest community id).
    * BIGINT-safe while 4·m·max_deg < 2⁶³ (~10⁹ edges at 10⁶ max
    * degree); the Q columns reuse B239's DECIMAL(38,0) arithmetic.
    *
    * SIMULTANEOUS moves are the distributed variant (sequential Louvain
    * is inherently serial): Q is NOT guaranteed monotone under them —
    * two tightly-linked nodes can swap communities and cancel. So the
    * query emits the measured before/after pair instead of asserting
    * improvement; on this fixture the pass does improve Q, and the
    * Wave-spec pins only the invariants that are theorems (mass
    * conservation, Q bounds, argmax ≥ stay score per node).
    *
    * Scale shape: keyed shuffles only — degree agg, neighbor-community
    * agg (map-side combinable, output Σ_u |comm(N(u))| ≤ 2m rows),
    * per-node argmax window (partitioned by node, never global), two
    * bounded Q aggregations; m and Q are 1-row broadcasts. One Louvain
    * LEVEL would iterate this pass then contract communities — each
    * pass is this same bounded plan.
    */
  /** Pass 1 shared by `graph_louvain_pass` and the r14/r15 depth queries
    * (`graph_louvain_level`, `graph_louvain_converge`): the co-purchase
    * edge list (session-cached in GraphOps) plus the simultaneous-argmax
    * move table (node, k, comm, newcomm), eagerly checkpointed.
    *
    * r15: the move table is itself SESSION-CACHED — all three B258
    * queries derive from this exact pass-1 result per fact snapshot
    * (the same materialize-once argument as the edge list one stage
    * down), and the redundant re-checkpoint of the already-checkpointed
    * cached edge list is gone (it copied the edge RDD once per query).
    */
  private[graft] def louvainPass1(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val edges = graft.operators.GraphOps.copurchaseEdges(lineitem(s, dir), 2L)
    val picked = graft.operators.SessionStageCache.getOrCompute(
      lineitem(s, dir), "louvainPass1:brandSeed") {
      val adj = edges
        .select(col("u").as("node"), col("v").as("nb"))
        .union(edges.select(col("v").as("node"), col("u").as("nb")))
      val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("k"))
      val nodes = deg.join(
        part(s, dir).select(col("p_partkey").as("node"), col("p_brand").as("comm")),
        Seq("node"))
      val m1    = edges.agg(count(lit(1)).as("m"))
      val sigma = nodes.groupBy(col("comm").as("c")).agg(sum(col("k")).as("sigma"))
      // k_{u,c}: edges from u into community c; the explicit 0-count "stay"
      // row keeps u's own community in the candidate set even when no
      // neighbor shares it
      val nbComm = adj
        .join(nodes.select(col("node").as("nb"), col("comm").as("cand")), Seq("nb"))
        .groupBy(col("node"), col("cand"))
        .agg(count(lit(1)).as("k_uc"))
      val stay = nodes.select(col("node"), col("comm").as("cand"), lit(0L).as("k_uc"))
      val cands = nbComm.unionByName(stay)
        .groupBy(col("node"), col("cand"))
        .agg(sum(col("k_uc")).as("k_uc"))
      cands
        .join(nodes, Seq("node"))
        .join(sigma, col("cand") === col("c"))
        .crossJoin(broadcast(m1))
        .withColumn(
          "score",
          expr("4 * m * k_uc - 2 * k * (sigma - CASE WHEN cand = comm THEN k ELSE 0 END)"))
        .withColumn(
          "rn",
          row_number().over(Window.partitionBy(col("node"))
            .orderBy(col("score").desc, (col("cand") === col("comm")).desc, col("cand").asc)))
        .filter(col("rn") === 1)
        .select(col("node"), col("k"), col("comm"), col("cand").as("newcomm"))
        .localCheckpoint(true)
    }
    (edges, picked)
  }

  private def graphLouvainPass(s: SparkSession, dir: String): DataFrame = {
    val (edges, picked) = louvainPass1(s, dir)
    val m1 = edges.agg(count(lit(1)).as("m"))

    // r15: ONE edge-sized pass serves BOTH Q readouts. The old shape ran
    // edges⋈assign⋈assign once per assignment (two full joins + shuffles,
    // no exchange reuse — the assignments differ); both e_in tables now
    // fall out of a single 4-community-key map-side-combined aggregate
    // over a single join against the move table, which carries comm AND
    // newcomm. The grouped result is community-tuple-bounded.
    val cw = edges
      .join(picked.select(col("node").as("u"), col("comm").as("cu"), col("newcomm").as("nu")), Seq("u"))
      .join(picked.select(col("node").as("v"), col("comm").as("cv"), col("newcomm").as("nv")), Seq("v"))
      .groupBy(col("cu"), col("cv"), col("nu"), col("nv"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(true)

    def qOf(eIn: DataFrame, dSum: DataFrame): DataFrame =
      dSum
        .join(eIn, Seq("c"), "left")
        .na.fill(0L, Seq("e_in"))
        .crossJoin(broadcast(m1))
        .agg(
          sum(expr("4 * CAST(m AS DECIMAL(38,0)) * e_in - CAST(d_sum AS DECIMAL(38,0)) * d_sum")).as("num"),
          max(col("m")).as("mm"))
        .select(expr("num * 1000000 div (4 * CAST(mm AS DECIMAL(38,0)) * mm)").as("q_ppm"))

    val qBefore = qOf(
      cw.where(col("cu") === col("cv")).groupBy(col("cu").as("c")).agg(sum(col("w")).as("e_in")),
      picked.groupBy(col("comm").as("c")).agg(sum(col("k")).as("d_sum")))
      .select(col("q_ppm").as("q_before_ppm"))
    val qAfter = qOf(
      cw.where(col("nu") === col("nv")).groupBy(col("nu").as("c")).agg(sum(col("w")).as("e_in")),
      picked.groupBy(col("newcomm").as("c")).agg(sum(col("k")).as("d_sum")))
      .select(col("q_ppm").as("q_after_ppm"))
    val moved = picked.agg(
      sum(when(col("newcomm") =!= col("comm"), 1L).otherwise(0L)).as("n_moved"))
    picked
      .groupBy(col("newcomm").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(moved))
      .crossJoin(broadcast(qBefore))
      .crossJoin(broadcast(qAfter))
  }

  private val graphLouvainPassSql =
    """WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM pp a JOIN pp b ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS MATERIALIZED (
      |  SELECT u AS node, v AS nb FROM e0 UNION ALL SELECT v AS node, u AS nb FROM e0),
      |deg AS MATERIALIZED (SELECT node, count(*) AS k FROM adj GROUP BY 1),
      |nodes AS MATERIALIZED (
      |  SELECT d.node, d.k, p.p_brand AS comm FROM deg d JOIN part p ON p.p_partkey = d.node),
      |m AS (SELECT count(*) AS m FROM e0),
      |sigma AS (SELECT comm AS c, CAST(sum(k) AS BIGINT) AS sigma FROM nodes GROUP BY 1),
      |nbc AS (
      |  SELECT a.node, n2.comm AS cand, count(*) AS k_uc
      |  FROM adj a JOIN nodes n2 ON n2.node = a.nb GROUP BY 1, 2),
      |cands AS (
      |  SELECT node, cand, CAST(sum(k_uc) AS BIGINT) AS k_uc FROM (
      |    SELECT node, cand, k_uc FROM nbc
      |    UNION ALL SELECT node, comm AS cand, 0 AS k_uc FROM nodes)
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT c.node, n.k, n.comm, c.cand,
      |    4 * m.m * c.k_uc - 2 * n.k * (s.sigma - CASE WHEN c.cand = n.comm THEN n.k ELSE 0 END) AS score
      |  FROM cands c JOIN nodes n ON n.node = c.node JOIN sigma s ON s.c = c.cand, m),
      |picked AS MATERIALIZED (
      |  SELECT node, k, comm, cand AS newcomm FROM (
      |    SELECT *, row_number() OVER (PARTITION BY node
      |      ORDER BY score DESC, (cand = comm) DESC, cand ASC) AS rn
      |    FROM scored) WHERE rn = 1),
      |qb AS (
      |  SELECT CAST(sum(4 * CAST(m.m AS HUGEINT) * x.e_in - CAST(x.d_sum AS HUGEINT) * x.d_sum)
      |      * 1000000 // (4 * CAST(max(m.m) AS HUGEINT) * max(m.m)) AS BIGINT) AS q_before_ppm
      |  FROM (
      |    SELECT d.c, d.d_sum, coalesce(w.e_in, 0) AS e_in FROM
      |      (SELECT comm AS c, CAST(sum(k) AS BIGINT) AS d_sum FROM nodes GROUP BY 1) d
      |      LEFT JOIN (
      |        SELECT nu.comm AS c, count(*) AS e_in
      |        FROM e0 JOIN nodes nu ON nu.node = e0.u JOIN nodes nv ON nv.node = e0.v
      |        WHERE nu.comm = nv.comm GROUP BY 1) w ON w.c = d.c) x, m),
      |qa AS (
      |  SELECT CAST(sum(4 * CAST(m.m AS HUGEINT) * x.e_in - CAST(x.d_sum AS HUGEINT) * x.d_sum)
      |      * 1000000 // (4 * CAST(max(m.m) AS HUGEINT) * max(m.m)) AS BIGINT) AS q_after_ppm
      |  FROM (
      |    SELECT d.c, d.d_sum, coalesce(w.e_in, 0) AS e_in FROM
      |      (SELECT newcomm AS c, CAST(sum(k) AS BIGINT) AS d_sum FROM picked GROUP BY 1) d
      |      LEFT JOIN (
      |        SELECT nu.newcomm AS c, count(*) AS e_in
      |        FROM e0 JOIN picked nu ON nu.node = e0.u JOIN picked nv ON nv.node = e0.v
      |        WHERE nu.newcomm = nv.newcomm GROUP BY 1) w ON w.c = d.c) x, m),
      |mv AS (SELECT CAST(sum(CASE WHEN newcomm != comm THEN 1 ELSE 0 END) AS BIGINT) AS n_moved FROM picked)
      |SELECT p.newcomm AS community, count(*) AS n_nodes, mv.n_moved, qb.q_before_ppm, qa.q_after_ppm
      |FROM picked p, mv, qb, qa
      |GROUP BY 1, 3, 4, 5""".stripMargin

  // --------------------------- Hamming shortlist + exact rerank (B259)

  /** The production ANN cascade B222 justified, measured end-to-end
    * (`sim_hamming_rerank`): 64-bit sign codes give a 32× cheaper
    * first pass whose top-S Hamming shortlist is then EXACTLY reranked
    * by cosine, recall@10 against the brute-force truth per shortlist
    * size S ∈ {10, 50, 200}. B222 measured code-only recall at 29% —
    * this query shows how much of the lost recall the rerank recovers
    * as S grows (the operating curve a deployment picks its S from).
    *
    * Scale shape: codes are one linear pass (64 bits packed in two
    * BIGINTs); the Hamming pass is corpus × 50 broadcast queries (the
    * certified-baseline trade B4 documents); the rerank touches only
    * |queries|·S_max candidate pairs — float vectors are re-joined for
    * the shortlist ONLY, never for the whole corpus; recall joins the
    * k·|queries| truth set. The S sweep reuses ONE Hamming ranking
    * (filtered three ways), not three passes.
    */
  private def simHammingRerank(s: SparkSession, dir: String): DataFrame = {
    val k    = 10
    val emb  = embeddings(s, dir)
    val sMax = 200
    val codes = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("vec_id"))
      .agg(
        sum(when(col("x") > 0 && col("pos") < 32, expr("shiftleft(1L, pos)")).otherwise(lit(0L))).as("h1"),
        sum(when(col("x") > 0 && col("pos") >= 32, expr("shiftleft(1L, pos - 32)")).otherwise(lit(0L))).as("h2"))
    val qCodes = codes
      .filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("h1").as("q1"), col("h2").as("q2"))
    val shortlist = codes
      .select(col("vec_id").as("corpus_id"), col("h1"), col("h2"))
      .join(broadcast(qCodes), col("corpus_id") =!= col("query_id"))
      .withColumn("ham", expr("bit_count(h1 ^ q1) + bit_count(h2 ^ q2)"))
      .withColumn(
        "hrank",
        row_number().over(Window.partitionBy(col("query_id")).orderBy(col("ham").asc, col("corpus_id").asc)))
      .filter(col("hrank") <= sMax)
      .select(col("query_id"), col("corpus_id"), col("hrank"))
    import s.implicits._
    val vecs = emb.select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val rescored = shortlist
      .join(vecs.select(col("vec_id").as("corpus_id"), col("v").as("cv")), Seq("corpus_id"))
      .join(broadcast(vecs.filter(col("vec_id") < 50).select(col("vec_id").as("query_id"), col("v").as("qv"))), Seq("query_id"))
      .withColumn("cosine", round(graft.operators.Similarity.cosine(col("qv"), col("cv")), 6))
      .select(col("query_id"), col("corpus_id"), col("hrank"), col("cosine"))
    val sGrid = Seq(10, 50, 200).toDF("shortlist_size")
    val reranked = rescored
      .join(broadcast(sGrid), col("hrank") <= col("shortlist_size"))
      .withColumn(
        "rrank",
        row_number().over(Window.partitionBy(col("shortlist_size"), col("query_id"))
          .orderBy(col("cosine").desc, col("corpus_id").asc)))
      .filter(col("rrank") <= k)
      .select(col("shortlist_size"), col("query_id"), col("corpus_id"), lit(1L).as("hit"))
    // r16: exactly the session-shared q<50/k=10 truth stage
    val truth = graft.operators.Similarity.truthTop10(emb, "vec_id", "embedding")
    truth
      .crossJoin(broadcast(sGrid))
      .join(reranked, Seq("shortlist_size", "query_id", "corpus_id"), "left")
      .groupBy(col("shortlist_size").cast("long").as("shortlist_size"))
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_ppm", expr("n_hits * 1000000 div n_truth"))
  }

  private val simHammingRerankSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |ex AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos, unnest(embedding) AS x
      |  FROM embeddings),
      |codes AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN x > 0 AND pos < 32 THEN (1::BIGINT << pos) ELSE 0 END) AS BIGINT) AS h1,
      |    CAST(sum(CASE WHEN x > 0 AND pos >= 32 THEN (1::BIGINT << (pos - 32)) ELSE 0 END) AS BIGINT) AS h2
      |  FROM ex GROUP BY 1),
      |qc AS (SELECT vec_id AS query_id, h1 AS q1, h2 AS q2 FROM codes WHERE vec_id < 50),
      |sl AS (
      |  SELECT query_id, corpus_id, hrank FROM (
      |    SELECT q.query_id, c.vec_id AS corpus_id,
      |      row_number() OVER (PARTITION BY q.query_id
      |        ORDER BY bit_count(xor(c.h1, q.q1)) + bit_count(xor(c.h2, q.q2)) ASC, c.vec_id ASC) AS hrank
      |    FROM qc q JOIN codes c ON c.vec_id != q.query_id)
      |  WHERE hrank <= 200),
      |grid AS (SELECT unnest([10, 50, 200]) AS shortlist_size),
      |rr AS (
      |  SELECT shortlist_size, query_id, corpus_id FROM (
      |    SELECT g.shortlist_size, s.query_id, s.corpus_id,
      |      row_number() OVER (PARTITION BY g.shortlist_size, s.query_id
      |        ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC, s.corpus_id ASC) AS rrank
      |    FROM sl s
      |    JOIN grid g ON s.hrank <= g.shortlist_size
      |    JOIN v q ON q.vec_id = s.query_id
      |    JOIN v c ON c.vec_id = s.corpus_id)
      |  WHERE rrank <= 10),
      |truth AS (
      |  SELECT query_id, corpus_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC, c.vec_id ASC) AS rank
      |    FROM (SELECT * FROM v WHERE vec_id < 50) q JOIN v c ON c.vec_id != q.vec_id)
      |  WHERE rank <= 10)
      |SELECT CAST(g.shortlist_size AS BIGINT) AS shortlist_size,
      |  count(DISTINCT t.query_id) AS n_queries,
      |  count(*) AS n_truth,
      |  CAST(sum(CASE WHEN r.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |  CAST(sum(CASE WHEN r.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000
      |    // count(*) AS recall_ppm
      |FROM truth t
      |CROSS JOIN grid g
      |LEFT JOIN rr r ON r.shortlist_size = g.shortlist_size
      |  AND r.query_id = t.query_id AND r.corpus_id = t.corpus_id
      |GROUP BY 1""".stripMargin

  // --------------------------- top-k mergeability certification (B260)

  /** Is a merged daily leaderboard the real leaderboard?
    * (`events_topk_merge_daily`): per-day top-20 users by event count
    * (the bounded state a daily pre-aggregation keeps), merged by
    * summing each user's VISIBLE (in-top-20) daily counts, against the
    * exact global top-20. Top-k is NOT a mergeable aggregate — unlike
    * B211's KMV and B227's moments, a user just below every daily
    * cutoff vanishes from the merge while accumulating a global rank —
    * so this is the certification table that MEASURES the loss the
    * sketch family's merge-losslessness proofs rule out: for each exact
    * top-20 user, the merged-visible count, rank under the merge, days
    * visible, and whether the merge finds them at all.
    *
    * Scale shape: (day × user) counts map-side combine; per-day top-20
    * is a partitioned window over day groups; the merge runs on
    * ≤ 20·days rows (calendar-bounded) — its rank window is global but
    * over that bounded set. The exact side is one (user) agg +
    * TakeOrderedAndProject (per-partition heaps, never a global sort),
    * with the rank window over exactly 20 rows.
    */
  private def eventsTopkMergeDaily(s: SparkSession, dir: String): DataFrame = {
    val k = 20
    val daily = events(s, dir)
      .select(expr("CAST(ts AS DATE)").as("day"), col("user_id"))
      .groupBy(col("day"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val dailyTop = daily
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("day")).orderBy(col("n").desc, col("user_id").asc)))
      .filter(col("rn") <= k)
    val merged = dailyTop
      .groupBy(col("user_id"))
      .agg(sum(col("n")).as("n_merged_visible"), count(lit(1)).as("days_visible"))
      .withColumn(
        "merged_rank",
        row_number().over(Window.orderBy(col("n_merged_visible").desc, col("user_id").asc)))
    // exact top-20: orderBy+limit plans TakeOrderedAndProject (per-
    // partition bounded heaps, no global sort, no all-users window);
    // the rank window then runs over exactly 20 rows
    val exact = events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id").asc)
      .limit(k)
      .withColumn(
        "exact_rank",
        row_number().over(Window.orderBy(col("n_exact").desc, col("user_id").asc)))
    exact
      .join(merged, Seq("user_id"), "left")
      .select(
        col("exact_rank").cast("long").as("exact_rank"),
        col("user_id"),
        col("n_exact"),
        coalesce(col("n_merged_visible"), lit(0L)).as("n_merged_visible"),
        coalesce(col("days_visible"), lit(0L)).as("days_visible"),
        coalesce(col("merged_rank"), lit(0L)).as("merged_rank"),
        when(coalesce(col("merged_rank"), lit(Long.MaxValue)) <= k, 1L).otherwise(0L).as("in_merged_topk"))
  }

  private val eventsTopkMergeDailySql =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, user_id, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |dt AS (
      |  SELECT * FROM (
      |    SELECT day, user_id, n,
      |      row_number() OVER (PARTITION BY day ORDER BY n DESC, user_id ASC) AS rn
      |    FROM daily) WHERE rn <= 20),
      |merged AS (
      |  SELECT user_id, CAST(sum(n) AS BIGINT) AS n_merged_visible, count(*) AS days_visible,
      |    row_number() OVER (ORDER BY sum(n) DESC, user_id ASC) AS merged_rank
      |  FROM dt GROUP BY 1),
      |exact AS (
      |  SELECT * FROM (
      |    SELECT user_id, count(*) AS n_exact,
      |      row_number() OVER (ORDER BY count(*) DESC, user_id ASC) AS exact_rank
      |    FROM events GROUP BY 1) WHERE exact_rank <= 20)
      |SELECT CAST(e.exact_rank AS BIGINT) AS exact_rank, e.user_id, e.n_exact,
      |  coalesce(m.n_merged_visible, 0) AS n_merged_visible,
      |  coalesce(m.days_visible, 0) AS days_visible,
      |  CAST(coalesce(m.merged_rank, 0) AS BIGINT) AS merged_rank,
      |  CASE WHEN coalesce(m.merged_rank, 9223372036854775807) <= 20 THEN 1 ELSE 0 END AS in_merged_topk
      |FROM exact e LEFT JOIN merged m ON m.user_id = e.user_id""".stripMargin

  // --------------------------- degree assortativity (B261)

  /** Degree assortativity of the co-purchase graph
    * (`graph_assortativity`): the Pearson correlation of endpoint
    * degrees over the (symmetrized) edge list — positive means hubs
    * sell with hubs (a rich-club catalog), negative means hubs anchor
    * satellites. The five sufficient sums are EXACT integers; only the
    * final correlation takes the B255 round-to-6-decimals double step,
    * so both engines agree bit-exactly. Σx³-class terms can reach
    * 2m·max_deg² — BIGINT-safe to ~10¹⁸; the sums are emitted beside r
    * so any wider-scale reader can recompute in its own precision.
    *
    * Scale shape: degrees are one hash-agg; Σ1/Σx/Σx² reduce over the
    * degree table alone (per-node identities); Σxy is one adjacency ⋈
    * degree join aggregated to node level before the final 1-row
    * combine. Output is one row.
    */
  private def graphAssortativity(s: SparkSession, dir: String): DataFrame = {
    val edges = graft.operators.GraphOps.copurchaseEdges(lineitem(s, dir), 2L)
      .localCheckpoint(true)
    val adj = edges
      .select(col("u").as("node"), col("v").as("nb"))
      .union(edges.select(col("v").as("node"), col("u").as("nb")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("k"))
    // Per-node identities over the symmetrized pair multiset (node u's
    // degree appears k_u times as x): Σ1 = Σk, Σx = Σk², Σx² = Σk³ come
    // from the degree table ALONE; only Σxy needs the neighbor join,
    // and it collapses to node level first (t_u = Σ_{v∈N(u)} k_v, then
    // Σxy = Σ k_u·t_u) — the r11 sf10 probe measured the naive 2m-row
    // double-join form at 60.9 s / 13× per decade; this keeps one
    // adjacency join and moves the second to n node rows.
    val nbSum = adj
      .join(deg.select(col("node").as("nb"), col("k").as("k2")), Seq("nb"))
      .groupBy(col("node"))
      .agg(sum(col("k2")).as("t"))
    val sxyRow = nbSum
      .join(deg, Seq("node"))
      .agg(sum(expr("k * t")).as("sxy"))
    deg
      .agg(
        sum(col("k")).as("n_pairs"),
        sum(expr("k * k")).as("sx"),
        sum(expr("k * k * k")).as("sxx"))
      .crossJoin(broadcast(sxyRow))
      .select(
        col("n_pairs"), col("sx"), col("sxy"), col("sxx"),
        expr(
          "CAST(round(round((CAST(n_pairs AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx) /" +
            " (CAST(n_pairs AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) * 1000000, 0) AS BIGINT)")
          .as("assortativity_micro"))
  }

  private val graphAssortativitySql =
    """WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM pp a JOIN pp b ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS (SELECT u AS node, v AS nb FROM e0 UNION ALL SELECT v AS node, u AS nb FROM e0),
      |deg AS (SELECT node, count(*) AS k FROM adj GROUP BY 1),
      |pairs AS (
      |  SELECT d1.k AS x, d2.k AS y
      |  FROM adj a JOIN deg d1 ON d1.node = a.node JOIN deg d2 ON d2.node = a.nb),
      |sums AS (
      |  SELECT count(*) AS n_pairs, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
      |  FROM pairs)
      |SELECT n_pairs, sx, sxy, sxx,
      |  CAST(round(round((CAST(n_pairs AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx) /
      |    (CAST(n_pairs AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) * 1000000) AS BIGINT)
      |    AS assortativity_micro
      |FROM sums""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("graph_louvain_pass", Seq("B258"), graphLouvainPass, graphLouvainPassSql),
    QuerySpec("sim_hamming_rerank", Seq("B259"), simHammingRerank, simHammingRerankSql),
    QuerySpec("events_topk_merge_daily", Seq("B260"), eventsTopkMergeDaily, eventsTopkMergeDailySql),
    QuerySpec("graph_assortativity", Seq("B261"), graphAssortativity, graphAssortativitySql)
  )
}
