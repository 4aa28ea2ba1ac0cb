package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 48: the embedding spectrum's top component
  * by ALL-INTEGER power iteration — effective-dimensionality evidence
  * for the compression trades B217/B222 certify empirically.
  */
object QueriesExt55 {

  // --------------------------- PCA top component (B237)

  /** Top principal component of the embedding cloud via 8 fixed power
    * iterations — entirely in integer arithmetic so both engines land
    * on the SAME component bit-for-bit: values snap to kilo-units, the
    * covariance is an exact BIGINT Gram table over centered values
    * (kilo snap keeps Σ cᵢcⱼ under 10¹³ even at 10⁸ rows), the
    * iteration vector renormalizes by L∞ (integer max, no sqrt), and
    * the Rayleigh quotient / trace ratio are integer divisions. Sign
    * fixed by forcing the largest-|loading| dim positive. Emits the
    * Rayleigh eigenvalue, explained-variance ppm, and the top-8 dims
    * by |loading| — the "how much of the cloud is one direction" table
    * that says whether B217's 16-dim prefix keeps the signal or
    * truncates it.
    *
    * Scale shape: ONE corpus pass builds the covariance (the
    * GramMatrixAgg custom aggregate — tight long[] loop, one ~17 KB
    * partial per partition; the shuffle carries the Gram table, never
    * rows). The 64×64 scatter is then MODEL-sized by construction
    * (d²/2 longs, volume-independent), so — r15 optimization, the
    * MLlib `RowMatrix.computePrincipalComponents` split: Gram on the
    * cluster, eigen-iteration on the driver — the 8 power iterations,
    * sign fix, Rayleigh quotient and top-8 ranking run on the collected
    * 2,146-long buffer in plain Scala, with the SAME all-integer
    * arithmetic (Long `/` = Spark `div` = truncate-toward-zero,
    * verified on negatives). The previous form ran the iterations as
    * Spark jobs over 4096-row checkpointed tables: 10 eager
    * localCheckpoints plus ~12 broadcast exchanges of 64-row frames —
    * pure fixed overhead at ANY corpus size (it benched SLOWER at
    * sf0.001 than sf0.1: 3.64 s vs 2.85 s — the signature of a
    * job-count-bound, not data-bound, plan).
    */
  private def embedPcaTopComponent(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embeddings(s, dir)
    val kilo = emb.select(
      expr("transform(embedding, x -> CAST(round(x * 1000) AS BIGINT))").as("xs"))
    // Covariance WITHOUT shuffling the corpus: the centered scatter
    // expands exactly over integers —
    //   Σ (xᵢ−μᵢ)(xⱼ−μⱼ) = Sxyᵢⱼ − μᵢ·Sxⱼ − μⱼ·Sxᵢ + n·μᵢ·μⱼ
    // for ANY integer constants μ (here the truncated means), so the raw
    // Gram table + per-dim sums give the same BIGINTs the per-row
    // centered form would. A/B history vs a 64·n-row self-join (24.3 s
    // at sf1) and a transform/flatten explode (27.5 s) is in the r10
    // notes; that corpus pass is unchanged here.
    val g: Array[Long] = kilo
      .agg(graft.functions.GramAgg.gramMatrix(col("xs")).as("g"))
      .head.getSeq[Long](0).toArray // [d, n, sx(d), upper-tri gram] — ~17 KB
    if (g.length < 2 || g(0) == 0L || g(1) == 0L) {
      // no rows / no dims: same empty output the old 64-row pipeline gave
      return Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("rank", "dim", "loading_milli", "eigenvalue_kilo2", "explained_ppm")
    }
    val d  = g(0).toInt
    val n  = g(1)
    val sx = java.util.Arrays.copyOfRange(g, 2, 2 + d)
    // upper-triangle (i,j) → position in g (0-based): 2 + d + i·d −
    // i(i−1)/2 + (j−i) — the same cell map the SQL slice/element_at used
    def sxy(i: Int, j: Int): Long = g(2 + d + i * d - i * (i - 1) / 2 + (j - i))
    val mu = sx.map(_ / n) // truncated means, exactly `sx div n`
    // covariance entries normalized by n: ≤ (2·kilo)² regardless of row
    // count (the scatter form would overflow w·1000 past ~10⁵ rows);
    // pre-division terms bounded by ~4·n·kilo², BIGINT-safe past 10¹¹ rows
    val cov = Array.tabulate(d, d) { (i0, j0) =>
      val (i, j) = if (i0 <= j0) (i0, j0) else (j0, i0)
      (sxy(i, j) - mu(i) * sx(j) - mu(j) * sx(i) + n * mu(i) * mu(j)) / n
    }
    // 8 power iterations, L∞-normalized to ±1000 each round — the same
    // integer recurrence the checkpointed-table loop ran, per element:
    // w = C·v; v = w·1000 div max|w| (0 when the matrix is null)
    var v = Array.fill(d)(1000L)
    for (_ <- 1 to 8) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * v(j)).sum)
      val m = w.map(math.abs).max
      v = w.map(x => if (m == 0L) 0L else x * 1000L / m)
    }
    // sign convention: the largest-|loading| dim is positive
    // (ties broken by smallest dim, matching the old window order)
    val top = (0 until d).minBy(j => (-math.abs(v(j)), j))
    val sgn = if (v(top) < 0) -1L else 1L
    val vS  = v.map(_ * sgn)
    // Rayleigh quotient and trace, all integer
    val vcv = (for { i <- 0 until d; j <- 0 until d } yield cov(i)(j) * vS(i) * vS(j)).sum
    val vtv = vS.map(x => x * x).sum
    val tr  = (0 until d).map(i => cov(i)(i)).sum
    val eig = vcv / vtv
    val ppm = if (tr == 0L) 0L else eig * 1000000L / tr
    val rows = (0 until d)
      .sortBy(j => (-math.abs(vS(j)), j))
      .take(8)
      .zipWithIndex
      .map { case (j, rk) => (rk + 1L, j.toLong, vS(j), eig, ppm) }
    rows.toDF("rank", "dim", "loading_milli", "eigenvalue_kilo2", "explained_ppm")
  }

  private val embedPcaTopComponentSql = {
    // one iteration: w = C·v, then L∞-renormalize to ±1000
    def iter(prev: String, cur: String): String =
      s"""w$cur AS MATERIALIZED (
         |  SELECT c.i, CAST(sum(c.cij * v.v) AS BIGINT) AS w
         |  FROM cov c JOIN v$prev v ON v.j = c.j GROUP BY 1),
         |v$cur AS MATERIALIZED (
         |  SELECT w.i AS j,
         |    CASE WHEN m.m = 0 THEN 0 ELSE w.w * 1000 // m.m END AS v
         |  FROM w$cur w, (SELECT max(abs(w)) AS m FROM w$cur) m)""".stripMargin
    s"""WITH vals AS MATERIALIZED (
       |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
       |    CAST(round(unnest(embedding)::DOUBLE * 1000) AS BIGINT) AS xk
       |  FROM embeddings),
       |mu AS MATERIALIZED (SELECT i, CAST(sum(xk) AS BIGINT) // count(*) AS mu FROM vals GROUP BY 1),
       |rows_c AS MATERIALIZED (
       |  SELECT v.vec_id, v.i, v.xk - m.mu AS c FROM vals v JOIN mu m ON m.i = v.i),
       |nr AS (SELECT count(*) AS n FROM embeddings),
       |cov AS MATERIALIZED (
       |  SELECT a.i, b.i AS j, CAST(sum(a.c * b.c) AS BIGINT) // nr.n AS cij
       |  FROM rows_c a JOIN rows_c b ON b.vec_id = a.vec_id, nr
       |  GROUP BY 1, 2, nr.n),
       |v0 AS MATERIALIZED (SELECT i AS j, CAST(1000 AS BIGINT) AS v FROM mu),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")},
       |${iter("3", "4")},
       |${iter("4", "5")},
       |${iter("5", "6")},
       |${iter("6", "7")},
       |${iter("7", "8")},
       |sgn AS MATERIALIZED (
       |  SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn FROM v8
       |  ORDER BY abs(v) DESC, j ASC LIMIT 1),
       |vs AS MATERIALIZED (SELECT v8.j, v8.v * sgn.sgn AS v FROM v8, sgn),
       |quad AS (
       |  SELECT CAST(sum(c.cij * vi.v * vj.v) AS BIGINT) AS vcv
       |  FROM cov c JOIN vs vi ON vi.j = c.i JOIN vs vj ON vj.j = c.j),
       |vtv AS (SELECT CAST(sum(v * v) AS BIGINT) AS vtv FROM vs),
       |tr AS (SELECT CAST(sum(cij) AS BIGINT) AS tr FROM cov WHERE i = j),
       |lam AS (
       |  SELECT q.vcv // t.vtv AS eigenvalue_kilo2,
       |    CASE WHEN r.tr = 0 THEN 0 ELSE (q.vcv // t.vtv) * 1000000 // r.tr END AS explained_ppm
       |  FROM quad q, vtv t, tr r),
       |rk AS (
       |  SELECT j AS dim, v AS loading_milli,
       |    row_number() OVER (ORDER BY abs(v) DESC, j ASC) AS rank
       |  FROM vs)
       |SELECT CAST(rk.rank AS BIGINT) AS rank, CAST(rk.dim AS BIGINT) AS dim,
       |  rk.loading_milli, lam.eigenvalue_kilo2, lam.explained_ppm
       |FROM rk, lam WHERE rk.rank <= 8""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("embed_pca_top_component", Seq("B237"), embedPcaTopComponent, embedPcaTopComponentSql)
  )
}
