package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-14 depth additions (r13 verdict #8: "prefer depth"): a FULL
  * Louvain level on the co-purchase graph — B258's refinement pass,
  * then community CONTRACTION into a weighted supergraph, then a second
  * (weighted) argmax pass on the contracted graph. Registered under
  * B258 beside `graph_louvain_pass`.
  */
object QueriesExt89 {

  // --------------------------- one full Louvain LEVEL (B258, r14 depth)

  /** `graph_louvain_level` — the step Louvain is actually named for:
    * after B258's simultaneous refinement pass, communities CONTRACT
    * into supernodes (self-loop weight = internal edge count, cross
    * weight = inter-community edge count) and the same argmax runs
    * again on the weighted supergraph, each supernode starting as its
    * own singleton community. Emits, per final community: supernode and
    * base-node populations, the level-2 move count, and exact
    * modularity after pass 1 vs after the level — the number that says
    * whether the hierarchy is still improving or the partition has
    * converged at this resolution.
    *
    * Weighted scoring: with singleton level-2 communities the pass-1
    * formula specializes cleanly — σ(D) = k_D (contracted degree =
    * Σ base degrees = 2·w_self + Σ cross weights, the contraction mass
    * invariant Wave89InvariantSpec pins), k_{C,D} = w(C,D), and the
    * stay score is exactly 0, so a move happens iff
    * 4m·w(C,D) − 2·k_C·k_D > 0 — the textbook ΔQ > 0 criterion scaled
    * by 4m². All arithmetic is BIGINT-exact while 8m² < 2⁶³
    * (m < ~10⁹ edges — the pass-1 bound class); Q reuses the
    * DECIMAL(38,0)/HUGEINT ppm route.
    *
    * Modularity is computed ON THE CONTRACTED graph (self-loops +
    * weighted degrees), which equals base-graph modularity under the
    * same communities — the classic contraction invariance that makes
    * multi-level Louvain correct, and what makes each level as cheap as
    * the supergraph, not the corpus.
    *
    * Scale shape (r15 diet): pass 1 is B258's bounded plan (edge list
    * AND move table session-cached); contraction is ONE keyed agg over
    * the assigned edge list into the combined (ca, cb, w) weight table.
    * That table and the contracted degrees are label-vocabulary-bounded
    * BY CONSTRUCTION (communities start as p_brand values and moves only
    * adopt existing labels — ≤ |brands| supernodes at ANY corpus size),
    * so they are model-sized driver pulls (the B237/B240 class) and
    * pass 2, Q, and the convergence arithmetic run serially — the
    * standard multilevel-partitioning endgame (coarsen distributed,
    * solve the coarsest graph serially). The r14 form ran pass 2 as four
    * eager checkpoints plus a ~15-join final plan over ≤25-row frames:
    * pure per-job overhead at any scale (2.9 s at sf0.1). Only the
    * per-community base-node rollup touches node-sized data, via one
    * broadcast of the ≤|brands|-row mapping.
    */
  private def graphLouvainLevel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (edges, picked) = QueriesExt70.louvainPass1(s, dir)
    val mVal = edges.count()
    val M    = BigInt(mVal)
    val asg  = picked.select(col("node"), col("k"), col("newcomm").as("c"))

    // contraction: community-keyed edge weights in ONE pass over the
    // assigned edge list; self-loops are the ca = cb rows
    val cw: Map[(String, String), Long] = operators.DriverBound.collectBounded(
      edges
        .join(asg.select(col("node").as("u"), col("c").as("cu")), Seq("u"))
        .join(asg.select(col("node").as("v"), col("c").as("cv")), Seq("v"))
        .select(least(col("cu"), col("cv")).as("ca"), greatest(col("cu"), col("cv")).as("cb"))
        .groupBy(col("ca"), col("cb")).agg(count(lit(1)).as("w")),
      "graph_louvain_level contracted weights (≤ brands²)")
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val kc: Map[String, Long] = operators.DriverBound.collectBounded(
      asg.groupBy(col("c")).agg(sum(col("k")).as("kc")),
      "graph_louvain_level community degrees (≤ brands)")
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // pass 2: weighted argmax over neighbor supernodes + the 0-weight
    // stay row (same candidate discipline as pass 1; stay scores exactly
    // 0, so a move happens iff 4m·w(C,D) − 2·k_C·k_D > 0). Order:
    // score desc, stay preferred on ties, then smallest candidate label.
    def score(sn: String, cand: String, w: Long): Long =
      4L * mVal * w - 2L * kc(sn) * (kc(cand) - (if (cand == sn) kc(sn) else 0L))
    val cands: Map[String, Seq[(String, Long)]] = {
      val nb = cw.iterator.filter { case ((a, b), _) => a != b }
        .flatMap { case ((a, b), w) => Seq(a -> (b, w), b -> (a, w)) }
        .toSeq.groupMap(_._1)(_._2)
      kc.keysIterator.map { c =>
        c -> (nb.getOrElse(c, Seq.empty) :+ (c, 0L))
      }.toMap
    }
    val fc: Map[String, String] = cands.map { case (sn, cs) =>
      val best = cs.minBy { case (cand, w) =>
        (-score(sn, cand, w), if (cand == sn) 0 else 1, cand)
      }._1
      sn -> best
    }
    val moved = kc.keysIterator.count(c => fc(c) != c).toLong

    // modularity on the contracted graph (BigInt — the DECIMAL(38,0)/
    // HUGEINT route; quotient truncates toward zero like div and //):
    // q_pass1 on the singleton assignment, q_level after the fc merge
    def qPpm(cwM: Map[(String, String), Long], kcM: Map[String, Long]): Long = {
      val num = kcM.iterator.map { case (c, k) =>
        BigInt(4) * M * BigInt(cwM.getOrElse((c, c), 0L)) - BigInt(k) * BigInt(k)
      }.sum
      ((num * 1000000) / (BigInt(4) * M * M)).toLong
    }
    val qPass1 = qPpm(cw, kc)
    val cw2 = {
      val out = scala.collection.mutable.Map.empty[(String, String), Long]
      for (((a, b), w) <- cw) {
        val (fa, fb) = (fc(a), fc(b))
        val key = if (fa <= fb) (fa, fb) else (fb, fa)
        out(key) = out.getOrElse(key, 0L) + w
      }
      out.toMap
    }
    val kc2    = kc.groupMapReduce { case (c, _) => fc(c) } { case (_, k) => k }(_ + _)
    val qLevel = qPpm(cw2, kc2)
    val nSuper = fc.groupMapReduce { case (_, f) => f } { _ => 1L }(_ + _)

    // per-community base-node rollup: the only node-sized step — one
    // broadcast join of the ≤|brands|-row mapping onto the move table
    val fcDF = fc.toSeq.toDF("c", "community")
    asg
      .join(broadcast(fcDF), Seq("c"))
      .groupBy(col("community")).agg(count(lit(1)).as("n_base_nodes"))
      .join(broadcast(nSuper.toSeq.toDF("community", "n_supernodes")), Seq("community"))
      .select(col("community"), col("n_supernodes"), col("n_base_nodes"),
        lit(moved).as("n_moved_l2"), lit(qPass1).as("q_pass1_ppm"), lit(qLevel).as("q_level_ppm"))
  }

  private val graphLouvainLevelSql =
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
      |asg AS MATERIALIZED (
      |  SELECT node, k, newcomm AS c FROM (
      |    SELECT node, k, cand AS newcomm FROM (
      |      SELECT *, row_number() OVER (PARTITION BY node
      |        ORDER BY score DESC, (cand = comm) DESC, cand ASC) AS rn
      |      FROM scored) WHERE rn = 1)),
      |ce AS MATERIALIZED (
      |  SELECT au.c AS cu, av.c AS cv FROM e0
      |    JOIN asg au ON au.node = e0.u JOIN asg av ON av.node = e0.v),
      |wself AS MATERIALIZED (SELECT cu AS c, CAST(count(*) AS BIGINT) AS w_self FROM ce WHERE cu = cv GROUP BY 1),
      |wcross AS MATERIALIZED (
      |  SELECT least(cu, cv) AS ca, greatest(cu, cv) AS cb, CAST(count(*) AS BIGINT) AS w
      |  FROM ce WHERE cu != cv GROUP BY 1, 2),
      |kc AS MATERIALIZED (SELECT c, CAST(sum(k) AS BIGINT) AS kc FROM asg GROUP BY 1),
      |cand2 AS (
      |  SELECT ca AS sn, cb AS cand, w FROM wcross
      |  UNION ALL SELECT cb AS sn, ca AS cand, w FROM wcross
      |  UNION ALL SELECT c AS sn, c AS cand, CAST(0 AS BIGINT) AS w FROM kc),
      |sc2 AS (
      |  SELECT c2.sn, c2.cand, ka.kc AS k_c,
      |    4 * m.m * c2.w - 2 * ka.kc * (kb.kc - CASE WHEN c2.cand = c2.sn THEN ka.kc ELSE 0 END) AS score
      |  FROM cand2 c2 JOIN kc ka ON ka.c = c2.sn JOIN kc kb ON kb.c = c2.cand, m),
      |picked2 AS MATERIALIZED (
      |  SELECT sn, cand AS fc, k_c FROM (
      |    SELECT *, row_number() OVER (PARTITION BY sn
      |      ORDER BY score DESC, (cand = sn) DESC, cand ASC) AS rn
      |    FROM sc2) WHERE rn = 1),
      |q1 AS (
      |  SELECT CAST(sum(4 * CAST(m.m AS HUGEINT) * (x.w_in + x.w_self) - CAST(x.d_sum AS HUGEINT) * x.d_sum)
      |      * 1000000 // (4 * CAST(max(m.m) AS HUGEINT) * max(m.m)) AS BIGINT) AS q_pass1_ppm
      |  FROM (
      |    SELECT k.c, k.kc AS d_sum, CAST(0 AS BIGINT) AS w_in, coalesce(w.w_self, 0) AS w_self
      |    FROM kc k LEFT JOIN wself w ON w.c = k.c) x, m),
      |fin AS MATERIALIZED (SELECT sn, fc, k_c FROM picked2),
      |ein2 AS (
      |  SELECT f, CAST(sum(w) AS BIGINT) AS w_in FROM (
      |    SELECT fu.fc AS f, wc.w FROM wcross wc
      |      JOIN fin fu ON fu.sn = wc.ca JOIN fin fv ON fv.sn = wc.cb AND fv.fc = fu.fc
      |    UNION ALL
      |    SELECT f2.fc AS f, ws.w_self AS w FROM wself ws JOIN fin f2 ON f2.sn = ws.c)
      |  GROUP BY 1),
      |q2 AS (
      |  SELECT CAST(sum(4 * CAST(m.m AS HUGEINT) * x.w_in - CAST(x.d_sum AS HUGEINT) * x.d_sum)
      |      * 1000000 // (4 * CAST(max(m.m) AS HUGEINT) * max(m.m)) AS BIGINT) AS q_level_ppm
      |  FROM (
      |    SELECT d.f, d.d_sum, coalesce(e.w_in, 0) AS w_in FROM
      |      (SELECT fc AS f, CAST(sum(k_c) AS BIGINT) AS d_sum FROM fin GROUP BY 1) d
      |      LEFT JOIN ein2 e ON e.f = d.f) x, m),
      |mv AS (SELECT CAST(sum(CASE WHEN fc != sn THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_l2 FROM picked2),
      |nb AS (SELECT p.fc, CAST(count(*) AS BIGINT) AS n_base_nodes
      |  FROM asg a JOIN picked2 p ON p.sn = a.c GROUP BY 1)
      |SELECT p.fc AS community, count(*) AS n_supernodes, nb.n_base_nodes,
      |  mv.n_moved_l2, q1.q_pass1_ppm, q2.q_level_ppm
      |FROM picked2 p JOIN nb ON nb.fc = p.fc, mv, q1, q2
      |GROUP BY 1, 3, 4, 5, 6""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("graph_louvain_level", Seq("B258"), graphLouvainLevel, graphLouvainLevelSql)
  )
}
