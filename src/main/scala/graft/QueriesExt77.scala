package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-11 additions, batch 51: pairwise Jensen–Shannon divergence
  * between source character distributions (B276 — the symmetric,
  * bounded, entropy-weighted companion to B98's TV distance), and the
  * rich-club coefficient sweep (B277 — does the co-purchase graph's
  * hub set interconnect? B261's negative assortativity predicts no;
  * this measures it directly).
  */
object QueriesExt77 {

  // --------------------------- pairwise source JSD (B276)

  /** Jensen–Shannon divergence between every source pair's character
    * distribution (`text_jsd_sources`): JSD(P,Q) = (KL(P‖M)+KL(Q‖M))/2
    * with M the midpoint — symmetric, finite even on disjoint supports
    * (≤ ln 2), the metric-like divergence for clustering sources by
    * style where B98's per-source-vs-corpus TV can't compare sources to
    * EACH OTHER. Counts are exact integers; the divergence is one
    * identically-shaped double expression per (pair, char) summed over
    * the bounded charset, micro-snapped once at the end.
    *
    * Scale shape: one char explode (linear scan class) → (source, char)
    * map-side count; the pair join runs on the sources × charset
    * zero-filled grid (both dimensions bounded); output is
    * sources²/2-bounded.
    */
  private def textJsdSources(s: SparkSession, dir: String): DataFrame = {
    val chars = documents(s, dir)
      .select(col("source"),
        expr("regexp_replace(lower(text), '\\\\s+', ' ')").as("nrm"))
      .where(length(col("nrm")) >= 1)
      // r15: one-pass CharNGrams(…, 1) replaces the per-position
      // substring explode (O(len²) byte scans per doc)
      .select(col("source"),
        explode(graft.functions.CharNGrams.charNGrams(col("nrm"), 1)).as("ch"))
      .groupBy(col("source"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val totals = chars.groupBy(col("source")).agg(sum(col("c")).as("n"))
    // zero-filled grid: a char one source never uses still carries
    // probability mass in the OTHER source's KL term
    val grid = totals.crossJoin(broadcast(chars.select(col("ch")).distinct()))
      .join(chars, Seq("source", "ch"), "left")
      .na.fill(0L, Seq("c"))
    val pairs = grid.as("a")
      .join(
        grid.as("b"),
        col("a.ch") === col("b.ch") && col("a.source") < col("b.source"))
      .select(
        col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.c").as("ca"), col("a.n").as("na"),
        col("b.c").as("cb"), col("b.n").as("nb"))
    pairs
      .withColumn(
        "term",
        expr(
          // p·ln(p/m) + q·ln(q/m) with 0·ln0 = 0; p = ca/na, q = cb/nb,
          // m = (p+q)/2 — identical expression shape in the oracle
          "CASE WHEN ca = 0 AND cb = 0 THEN CAST(0 AS DOUBLE) ELSE " +
            "(CASE WHEN ca = 0 THEN CAST(0 AS DOUBLE) ELSE (CAST(ca AS DOUBLE) / na) * ln((CAST(ca AS DOUBLE) / na) / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2)) END " +
            "+ CASE WHEN cb = 0 THEN CAST(0 AS DOUBLE) ELSE (CAST(cb AS DOUBLE) / nb) * ln((CAST(cb AS DOUBLE) / nb) / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2)) END) / 2 END"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(
        count(lit(1)).as("n_chars"),
        expr("CAST(round(round(sum(term), 6) * 1000000, 0) AS BIGINT)").as("jsd_micro"))
  }

  private val textJsdSourcesSql =
    """WITH nrm AS (
      |  SELECT source, regexp_replace(lower(text), '\s+', ' ', 'g') AS nrm FROM documents),
      |ch0 AS (
      |  SELECT source, substr(nrm, i, 1) AS ch
      |  FROM nrm, UNNEST(range(1, len(nrm) + 1)) t(i)
      |  WHERE len(nrm) >= 1),
      |chars AS MATERIALIZED (
      |  SELECT source, ch, count(*) AS c FROM ch0 GROUP BY 1, 2),
      |totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM chars GROUP BY 1),
      |grid AS (
      |  SELECT t.source, u.ch, t.n, coalesce(chars.c, 0) AS c
      |  FROM totals t
      |  CROSS JOIN (SELECT DISTINCT ch FROM chars) u
      |  LEFT JOIN chars ON chars.source = t.source AND chars.ch = u.ch),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    a.c AS ca, a.n AS na, b.c AS cb, b.n AS nb
      |  FROM grid a JOIN grid b ON b.ch = a.ch AND a.source < b.source),
      |terms AS (
      |  SELECT source_a, source_b,
      |    CASE WHEN ca = 0 AND cb = 0 THEN CAST(0 AS DOUBLE) ELSE
      |      (CASE WHEN ca = 0 THEN CAST(0 AS DOUBLE) ELSE (CAST(ca AS DOUBLE) / na) * ln((CAST(ca AS DOUBLE) / na) / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2)) END
      |      + CASE WHEN cb = 0 THEN CAST(0 AS DOUBLE) ELSE (CAST(cb AS DOUBLE) / nb) * ln((CAST(cb AS DOUBLE) / nb) / ((CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2)) END) / 2 END
      |      AS term
      |  FROM pairs)
      |SELECT source_a, source_b, count(*) AS n_chars,
      |  CAST(round(round(sum(term), 6) * 1000000) AS BIGINT) AS jsd_micro
      |FROM terms GROUP BY 1, 2""".stripMargin

  // --------------------------- rich-club coefficient (B277)

  /** Rich-club coefficient sweep (`graph_rich_club`): among nodes of
    * degree > k, the realized fraction of possible edges φ(k) =
    * 2·E_k / (n_k·(n_k−1)) for k ∈ {2, 4, 8, 16} — do the hubs form
    * their own clique (rich club) or merely fan out? B261's negative
    * assortativity (−7 903 µ) predicts no club; this measures φ
    * directly at each cut, with node/edge counts beside it so the
    * reader sees when n_k gets too small to mean anything.
    *
    * Scale shape: degrees one hash-agg; E_k from ONE pass over the
    * degree-joined edge list against the 4-literal threshold grid
    * (B180's one-pass-sweep discipline); n_k the same sweep over the
    * degree table; a 4-row join of 1-row aggregates.
    */
  private def graphRichClub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = graft.operators.GraphOps.copurchaseEdges(lineitem(s, dir), 2L)
      .localCheckpoint(true)
    val adj = edges
      .select(col("u").as("node"), col("v").as("nb"))
      .union(edges.select(col("v").as("node"), col("u").as("nb")))
    val deg  = adj.groupBy(col("node")).agg(count(lit(1)).as("k"))
    val ks   = Seq(2L, 4L, 8L, 16L).toDF("kthr")
    val ek = edges
      .join(deg.select(col("node").as("u"), col("k").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("k").as("dv")), Seq("v"))
      .crossJoin(broadcast(ks))
      .where(col("du") > col("kthr") && col("dv") > col("kthr"))
      .groupBy(col("kthr"))
      .agg(count(lit(1)).as("e_k"))
    val nk = deg
      .crossJoin(broadcast(ks))
      .where(col("k") > col("kthr"))
      .groupBy(col("kthr"))
      .agg(count(lit(1)).as("n_k"))
    ks
      .join(nk, Seq("kthr"), "left")
      .join(ek, Seq("kthr"), "left")
      .na.fill(0L, Seq("n_k", "e_k"))
      .select(
        col("kthr").as("k_threshold"),
        col("n_k"), col("e_k"),
        expr("CASE WHEN n_k < 2 THEN 0L ELSE 2 * e_k * 1000000 div (n_k * (n_k - 1)) END")
          .as("phi_ppm"))
  }

  private val graphRichClubSql =
    """WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM pp a JOIN pp b ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS (SELECT u AS node, v AS nb FROM e0 UNION ALL SELECT v AS node, u AS nb FROM e0),
      |deg AS MATERIALIZED (SELECT node, count(*) AS k FROM adj GROUP BY 1),
      |ks AS (SELECT CAST(unnest([2, 4, 8, 16]) AS BIGINT) AS kthr),
      |ek AS (
      |  SELECT ks.kthr, count(*) AS e_k
      |  FROM e0 JOIN deg du ON du.node = e0.u JOIN deg dv ON dv.node = e0.v, ks
      |  WHERE du.k > ks.kthr AND dv.k > ks.kthr GROUP BY 1),
      |nk AS (
      |  SELECT ks.kthr, count(*) AS n_k FROM deg, ks WHERE deg.k > ks.kthr GROUP BY 1)
      |SELECT ks.kthr AS k_threshold,
      |  coalesce(nk.n_k, 0) AS n_k, coalesce(ek.e_k, 0) AS e_k,
      |  CASE WHEN coalesce(nk.n_k, 0) < 2 THEN 0
      |    ELSE 2 * coalesce(ek.e_k, 0) * 1000000 // (nk.n_k * (nk.n_k - 1)) END AS phi_ppm
      |FROM ks LEFT JOIN nk ON nk.kthr = ks.kthr LEFT JOIN ek ON ek.kthr = ks.kthr""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_jsd_sources", Seq("B276"), textJsdSources, textJsdSourcesSql),
    QuerySpec("graph_rich_club", Seq("B277"), graphRichClub, graphRichClubSql)
  )
}
