package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 depth additions (r14 verdict #4): multi-level Louvain TO
  * CONVERGENCE — B258's level step iterated until modularity stops
  * improving, emitting the per-level curve. Registered under B258
  * beside `graph_louvain_pass` and `graph_louvain_level`.
  */
object QueriesExt90 {

  /** Hard level bound: each level runs on the previous level's
    * supergraph, and the matching merge at least halves whatever is
    * still merging, so on any graph where pass 1 contracts at all the
    * hierarchy bottoms out in a handful of levels; 8 keeps the plan (and
    * the DuckDB oracle's unrolled CTE chain) statically bounded while
    * being exactly where both fixtures plateau (sf0.001 stalls at
    * level 7; sf0.01 reaches its flat-Q stall row at level 8).
    */
  private val MaxLevels = 8

  /** `graph_louvain_converge` — full multi-level Louvain on the
    * co-purchase graph: B258's node-level refinement pass (level 1),
    * then REPEATED community contraction + weighted singleton-argmax
    * passes (levels 2..8), stopping at the first level whose modularity
    * does not improve on the previous one. Emits the LEVEL CURVE — one
    * row per executed level with the community count, move count, and
    * exact modularity (ppm) after that level — the readout that says
    * where the hierarchy stopped paying.
    *
    * Honest-readout note (simultaneous-move oscillation): every pass
    * moves ALL nodes at once, so at a plateau two symmetric supernodes
    * can keep swapping labels forever — n_moved can stay positive while
    * Q is exactly flat. The stopping rule is therefore on Q alone
    * (first MERGE level ℓ≥2 with q_ppm(ℓ) ≤ q_ppm(ℓ−1) is the last
    * emitted level), and the curve deliberately SHOWS the stall row,
    * oscillating moves included, rather than hiding it. Level 1 is
    * exempt from the stop rule: the simultaneous refinement pass is the
    * algorithm's mandatory step and is known non-monotone (this fixture:
    * Q dips 2172→2138 ppm across pass 1, then the merge levels climb).
    *
    * Merge-level semantics (weighted graph with self-loops, all BIGINT-
    * exact): after contraction every supernode is a singleton, and the
    * textbook merge gain scaled by 4m² is ΔQ ∝ 4m·w(C,D) − 2·k_C·k_D.
    * A free simultaneous argmax is label-UNSTABLE here (on a dense
    * supergraph every singleton's best move is positive, all labels
    * rotate at once, and Q collapses — measured on both fixtures), so
    * merge levels use MUTUAL-BEST-PAIR MATCHING instead: C merges with
    * D iff each is the other's highest-positive-gain neighbor, taking
    * the smaller label (heavy-edge matching, the standard multilevel-
    * partitioning agglomeration). Matched pairs are disjoint and
    * modularity's community terms are additive, so each merge level
    * RAISES Q by exactly the sum of its pairs' positive gains —
    * monotone by construction, which is what lets "iterate until Q
    * stops improving" terminate meaningfully.
    * Modularity is computed on each level's CONTRACTED graph
    * (Q = Σ_f [4m·w_self(f) − k_f²] / 4m², self-loops carrying all
    * internal weight), which equals base-graph modularity under the
    * composed assignment — the contraction invariance that makes
    * multi-level Louvain correct (Wave89InvariantSpec pins it for level
    * 1; Wave90InvariantSpec pins the curve's monotonicity + mass
    * conservation here).
    *
    * Scale shape (r15 diet): level 1 is B258's bounded plan over the
    * session-cached edge list AND move table; every later level is
    * supergraph-sized work. Exactly TWO eager materializations per
    * level — the matched move table and the combined (ca, cb, w)
    * contracted-weight table (self-loops are the ca = cb rows, so
    * self/cross splits are filters over one leaf) — where the r14-close
    * form checkpointed six frames per level, contracted the base graph
    * twice, and re-aggregated m into a broadcast at every use (~70 tiny
    * Spark jobs; 12.6 s at sf0.001, job-count-bound). Per-level stats
    * (n_communities, n_moved, q_ppm — THREE scalars) are pulled to the
    * driver, which also lets the loop STOP at the first non-improving
    * merge level instead of always contracting to level 8 and filtering
    * afterwards; the graph itself never leaves the cluster, and the
    * driver state is ≤ 9×4 longs. At 100 TB the level-1 pass dominates
    * end-to-end cost exactly as in the single-level query; the
    * convergence loop adds only community-bounded work.
    */
  private def graphLouvainConverge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (edges, picked) = QueriesExt70.louvainPass1(s, dir)
    // m: ONE scalar (edge count of the cached support-pruned edge list) —
    // the old broadcast(m1) re-aggregated the edge list inside every
    // merge pass and every Q readout
    val mVal = edges.count()
    val M    = BigInt(mVal)

    // levels 0 and 1 contract the BASE edge list under the initial and
    // refined assignments — in ONE edge-sized pass (the move table
    // carries both comm and newcomm), grouped by the level-0 AND level-1
    // community pairs at once; both levels' weight tables are rollups of
    // this one supergraph-bounded leaf. This is the ONLY corpus-sized
    // work in the whole query beyond the shared pass-1 stage.
    val cw01 = edges
      .join(picked.select(col("node").as("u"), col("comm").as("cu0"), col("newcomm").as("cu1")), Seq("u"))
      .join(picked.select(col("node").as("v"), col("comm").as("cv0"), col("newcomm").as("cv1")), Seq("v"))
      .select(
        least(col("cu0"), col("cv0")).as("ca0"), greatest(col("cu0"), col("cv0")).as("cb0"),
        least(col("cu1"), col("cv1")).as("ca1"), greatest(col("cu1"), col("cv1")).as("cb1"))
      .groupBy(col("ca0"), col("cb0"), col("ca1"), col("cb1"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(true)

    // The contracted objects are label-vocabulary-bounded BY CONSTRUCTION
    // (communities start as p_brand values and moves only adopt existing
    // labels, so every level's supergraph has ≤ |brands| nodes and
    // ≤ |brands|² weighted edges — at ANY corpus size). That makes them
    // model-sized driver pulls, the B237/B240 class, and the merge levels
    // run serially here — the standard multilevel-partitioning endgame
    // (coarsen distributed, solve the coarsest graph serially).
    // r16 guard on the pulls: the label-vocabulary bound is structural,
    // but the guard documents it and fails loudly if a future edit ever
    // breaks the adopt-only invariant
    def pairsOf(ka: String, kb: String): Map[(String, String), Long] =
      operators.DriverBound.collectBounded(
        cw01.groupBy(col(ka).as("a"), col(kb).as("b")).agg(sum(col("w")).as("w")),
        s"graph_louvain_converge weight map ($ka,$kb) (≤ brands²)")
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def kcOf(key: String): Map[String, Long] =
      operators.DriverBound.collectBounded(
        picked.groupBy(col(key).as("c")).agg(sum(col("k")).as("kc")),
        s"graph_louvain_converge degree map $key (≤ brands)")
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cw0 = pairsOf("ca0", "cb0")
    var cw  = pairsOf("ca1", "cb1")
    val kc0 = kcOf("comm")
    var kc  = kcOf("newcomm")
    val moved1 = picked.agg(
      sum(when(col("newcomm") =!= col("comm"), 1L).otherwise(0L)).as("n_moved")).head().getLong(0)

    // Q on a contracted graph: Σ(4m·w_self − kc²)·1e6 div 4m² — BigInt
    // everywhere (the DECIMAL(38,0)/HUGEINT route), quotient truncating
    // toward zero exactly like Spark's `div` and DuckDB's `//`.
    def qPpm(cwM: Map[(String, String), Long], kcM: Map[String, Long]): Long = {
      val num = kcM.iterator.map { case (c, k) =>
        BigInt(4) * M * BigInt(cwM.getOrElse((c, c), 0L)) - BigInt(k) * BigInt(k)
      }.sum
      ((num * 1000000) / (BigInt(4) * M * M)).toLong
    }

    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    rows += ((0L, kc0.size.toLong, 0L, qPpm(cw0, kc0)))
    rows += ((1L, kc.size.toLong, moved1, qPpm(cw, kc)))

    // One MATCHING-based merge pass on the supergraph: each supernode
    // picks its best strictly-positive-gain neighbor (singleton ΔQ ∝
    // 4m·w(C,D) − 2·k_C·k_D; ties → smaller label); a merge applies ONLY
    // when the pick is MUTUAL, the pair taking the smaller label. Mutual
    // pairs are disjoint, modularity's community terms are additive, and
    // each pair's gain is positive — so Q is PROVABLY monotone through
    // merge levels (heavy-edge-matching-style agglomeration, the
    // standard multilevel-partitioning device), unlike the free
    // simultaneous argmax, which label-rotates on dense supergraphs
    // (every supernode moves, Q collapses — measured on both fixtures).
    def mergePass(cwM: Map[(String, String), Long], kcM: Map[String, Long]): Map[String, String] = {
      val bestOf = scala.collection.mutable.Map.empty[String, (Long, String)]
      for {
        ((a, b), w) <- cwM if a != b
        (sn, cand)  <- Seq((a, b), (b, a))
      } {
        val score = 4L * mVal * w - 2L * kcM(sn) * kcM(cand)
        if (score > 0) bestOf.get(sn) match {
          case Some((bs, bc)) if bs > score || (bs == score && bc <= cand) => ()
          case _ => bestOf(sn) = (score, cand)
        }
      }
      val best = bestOf.map { case (sn, (_, c)) => sn -> c }
      kcM.keysIterator.map { c =>
        val fc = best.get(c) match {
          case Some(p) if best.get(p).contains(c) => if (c <= p) c else p
          case _ => c
        }
        c -> fc
      }.toMap
    }

    // contraction under a pass's picks: carried self-loops land on
    // (fc, fc); cross weights regroup under (min(fa,fb), max(fa,fb))
    def contract(cwM: Map[(String, String), Long], fc: Map[String, String])
        : Map[(String, String), Long] = {
      val out = scala.collection.mutable.Map.empty[(String, String), Long]
      for (((a, b), w) <- cwM) {
        val (fa, fb) = (fc(a), fc(b))
        val key = if (fa <= fb) (fa, fb) else (fb, fa)
        out(key) = out.getOrElse(key, 0L) + w
      }
      out.toMap
    }

    // levels 2..MaxLevels: matching merge + contraction, STOPPING at the
    // first merge level whose Q fails to improve (that stall row is
    // still emitted — the honest-readout contract; levels past it were
    // previously computed and discarded). Level 1 is exempt from the
    // stop rule: the simultaneous-move refinement pass is the
    // algorithm's mandatory step and is known non-monotone (on this
    // fixture Q dips 2172→2138 ppm — the two-node swap oscillation), so
    // gating on it would stop every run at level 1.
    var prevQ = rows.last._4
    var lvl   = 2
    var stop  = false
    while (lvl <= MaxLevels && !stop) {
      val fc     = mergePass(cw, kc)
      val movedL = kc.keysIterator.count(c => fc(c) != c).toLong
      cw = contract(cw, fc)
      kc = kc.groupMapReduce { case (c, _) => fc(c) } { case (_, k) => k }(_ + _)
      val qL = qPpm(cw, kc)
      rows += ((lvl.toLong, kc.size.toLong, movedL, qL))
      if (qL <= prevQ) stop = true
      prevQ = qL
      lvl += 1
    }

    rows.toSeq.toDF("level", "n_communities", "n_moved", "q_ppm")
  }

  // ---- DuckDB oracle: the same static unroll, generated per level ------

  /** weighted pass + contraction + stats CTE block for level `l`
    * (reading supergraph CTEs suffixed with `p = l-1`).
    */
  private def levelBlockSql(l: Int): String = {
    val p = l - 1
    s"""cand$l AS (
       |  SELECT ca AS sn, cb AS cand, w FROM wcross$p
       |  UNION ALL SELECT cb AS sn, ca AS cand, w FROM wcross$p),
       |best$l AS MATERIALIZED (
       |  SELECT sn, cand AS pick FROM (
       |    SELECT c2.sn, c2.cand,
       |      row_number() OVER (PARTITION BY c2.sn
       |        ORDER BY (4 * m.m * c2.w - 2 * ka.kc * kb.kc) DESC, c2.cand ASC) AS rn
       |    FROM cand$l c2 JOIN kc$p ka ON ka.c = c2.sn JOIN kc$p kb ON kb.c = c2.cand, m
       |    WHERE 4 * m.m * c2.w - 2 * ka.kc * kb.kc > 0) WHERE rn = 1),
       |mut$l AS (
       |  SELECT a.sn, least(a.sn, a.pick) AS fc
       |  FROM best$l a JOIN best$l b ON b.sn = a.pick AND b.pick = a.sn),
       |picked$l AS MATERIALIZED (
       |  SELECT k.c AS sn, coalesce(mu.fc, k.c) AS fc, k.kc AS k_c
       |  FROM kc$p k LEFT JOIN mut$l mu ON mu.sn = k.c),
       |crossm$l AS MATERIALIZED (
       |  SELECT pu.fc AS fa, pv.fc AS fb, wc.w FROM wcross$p wc
       |    JOIN picked$l pu ON pu.sn = wc.ca JOIN picked$l pv ON pv.sn = wc.cb),
       |wself$l AS MATERIALIZED (
       |  SELECT c, CAST(sum(w) AS BIGINT) AS w_self FROM (
       |    SELECT p2.fc AS c, ws.w_self AS w FROM wself$p ws JOIN picked$l p2 ON p2.sn = ws.c
       |    UNION ALL SELECT fa AS c, w FROM crossm$l WHERE fa = fb)
       |  GROUP BY 1),
       |wcross$l AS MATERIALIZED (
       |  SELECT least(fa, fb) AS ca, greatest(fa, fb) AS cb, CAST(sum(w) AS BIGINT) AS w
       |  FROM crossm$l WHERE fa != fb GROUP BY 1, 2),
       |kc$l AS MATERIALIZED (SELECT fc AS c, CAST(sum(k_c) AS BIGINT) AS kc FROM picked$l GROUP BY 1),
       |mv$l AS (SELECT CAST(sum(CASE WHEN fc != sn THEN 1 ELSE 0 END) AS BIGINT) AS n_moved FROM picked$l),
       |st$l AS (
       |  SELECT CAST($l AS BIGINT) AS level,
       |    (SELECT CAST(count(*) AS BIGINT) FROM kc$l) AS n_communities,
       |    (SELECT n_moved FROM mv$l) AS n_moved,
       |    (SELECT CAST(sum(4 * CAST(m.m AS HUGEINT) * coalesce(w.w_self, 0) - CAST(k.kc AS HUGEINT) * k.kc)
       |        * 1000000 // (4 * CAST(max(m.m) AS HUGEINT) * max(m.m)) AS BIGINT)
       |     FROM kc$l k LEFT JOIN wself$l w ON w.c = k.c, m) AS q_ppm)""".stripMargin
  }

  private val graphLouvainConvergeSql = {
    val levelBlocks = (2 to MaxLevels).map(levelBlockSql).mkString(",\n")
    val curveUnion = (0 to MaxLevels).map(l => s"SELECT * FROM st$l").mkString("\n  UNION ALL ")
    s"""WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
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
       |pickedn AS MATERIALIZED (
       |  SELECT node, k, comm, newcomm FROM (
       |    SELECT node, k, comm, cand AS newcomm, row_number() OVER (PARTITION BY node
       |      ORDER BY score DESC, (cand = comm) DESC, cand ASC) AS rn
       |    FROM scored) WHERE rn = 1),
       |ce0 AS MATERIALIZED (
       |  SELECT au.comm AS cu, av.comm AS cv FROM e0
       |    JOIN pickedn au ON au.node = e0.u JOIN pickedn av ON av.node = e0.v),
       |wself0 AS MATERIALIZED (SELECT cu AS c, CAST(count(*) AS BIGINT) AS w_self FROM ce0 WHERE cu = cv GROUP BY 1),
       |kc0 AS MATERIALIZED (SELECT comm AS c, CAST(sum(k) AS BIGINT) AS kc FROM pickedn GROUP BY 1),
       |st0 AS (
       |  SELECT CAST(0 AS BIGINT) AS level,
       |    (SELECT CAST(count(*) AS BIGINT) FROM kc0) AS n_communities,
       |    CAST(0 AS BIGINT) AS n_moved,
       |    (SELECT CAST(sum(4 * CAST(m.m AS HUGEINT) * coalesce(w.w_self, 0) - CAST(k.kc AS HUGEINT) * k.kc)
       |        * 1000000 // (4 * CAST(max(m.m) AS HUGEINT) * max(m.m)) AS BIGINT)
       |     FROM kc0 k LEFT JOIN wself0 w ON w.c = k.c, m) AS q_ppm),
       |ce1 AS MATERIALIZED (
       |  SELECT au.newcomm AS cu, av.newcomm AS cv FROM e0
       |    JOIN pickedn au ON au.node = e0.u JOIN pickedn av ON av.node = e0.v),
       |wself1 AS MATERIALIZED (SELECT cu AS c, CAST(count(*) AS BIGINT) AS w_self FROM ce1 WHERE cu = cv GROUP BY 1),
       |wcross1 AS MATERIALIZED (
       |  SELECT least(cu, cv) AS ca, greatest(cu, cv) AS cb, CAST(count(*) AS BIGINT) AS w
       |  FROM ce1 WHERE cu != cv GROUP BY 1, 2),
       |kc1 AS MATERIALIZED (SELECT newcomm AS c, CAST(sum(k) AS BIGINT) AS kc FROM pickedn GROUP BY 1),
       |st1 AS (
       |  SELECT CAST(1 AS BIGINT) AS level,
       |    (SELECT CAST(count(*) AS BIGINT) FROM kc1) AS n_communities,
       |    (SELECT CAST(sum(CASE WHEN newcomm != comm THEN 1 ELSE 0 END) AS BIGINT) FROM pickedn) AS n_moved,
       |    (SELECT CAST(sum(4 * CAST(m.m AS HUGEINT) * coalesce(w.w_self, 0) - CAST(k.kc AS HUGEINT) * k.kc)
       |        * 1000000 // (4 * CAST(max(m.m) AS HUGEINT) * max(m.m)) AS BIGINT)
       |     FROM kc1 k LEFT JOIN wself1 w ON w.c = k.c, m) AS q_ppm),
       |$levelBlocks,
       |curve AS MATERIALIZED (
       |  $curveUnion),
       |conv AS (
       |  SELECT coalesce(min(c.level), CAST($MaxLevels AS BIGINT)) AS ca
       |  FROM curve c JOIN curve p ON p.level = c.level - 1
       |  WHERE c.q_ppm <= p.q_ppm AND c.level >= 2)
       |SELECT level, n_communities, n_moved, q_ppm
       |FROM curve, conv WHERE level <= conv.ca""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("graph_louvain_converge", Seq("B258"), graphLouvainConverge, graphLouvainConvergeSql)
  )
}
