package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-11 additions, batch 45: interpolated Kneser–Ney smoothing with
  * a held-out lift table against B255's MLE baseline (B262 — the
  * standard n-gram smoothing, trained and scored distributed), and a
  * Holt linear-trend forecaster whose sequential state runs as an exact
  * dyadic-double DP inside a bounded-array fold (B263 — beating/losing
  * to B236's naive baselines is measured, not assumed).
  */
object QueriesExt71 {

  // --------------------------- Kneser–Ney held-out lift (B262)

  /** Interpolated Kneser–Ney char-bigram LM vs the MLE model, both
    * scored on B255's held-out folds (`text_kn_continuation`):
    * p_KN(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁·) + D·N₁₊(w₁·)/c(w₁·) ·
    * N₁₊(·w₂)/N₁₊(··), D = 0.75 — the continuation-probability
    * backbone of every production n-gram LM. Trained on folds 0–7
    * (B178's hash-split), scored on folds 8–9; emits per source the
    * mean NLL of BOTH models and the KN gain, plus how often each path
    * fires (exact-hit / continuation-backoff / context-OOV floor). On a
    * closed template vocabulary (B251 measured β = 0) the gain should
    * be ≈ 0 with rare backoffs — the honest expectation, stated.
    *
    * Determinism: probabilities are assembled in ONE identically-shaped
    * double expression from exact integer counts in both engines (IEEE
    * arithmetic is engine-independent), and only ln() gets the B255
    * round-to-6-decimals snap that absorbs libm variation.
    *
    * Scale shape: one bigram explode feeds train and validation; all
    * three model tables (bigram, context, continuation) are ≤
    * |charset|²-bounded broadcasts; the scoring pass is one linear scan
    * with three broadcast joins; rollup is source-bounded.
    */
  private def textKnContinuation(s: SparkSession, dir: String): DataFrame = {
    val floorMicro = -13815511L // round(ln(1e-6), 6) * 1e6
    val base = documents(s, dir)
      .select(col("doc_id"), col("source"),
        operators.TextAnalysis.normalize(col("text")).as("nrm"),
        (graft.functions.Hashing.h32(concat(lit("cv:"), col("doc_id").cast("string"))) % 10)
          .as("fold"))
    // Two FILTERED explode scans instead of one checkpointed bigram
    // table: the r11 sf10 probe measured the materialize-then-reuse form
    // at 205 s (41×/decade — localCheckpoint writes the ~2.3 B-row
    // bigram stream to disk before either side reads it); the fold
    // filter pushes to the scan and the codegen explode re-runs in each
    // branch for free. Recompute beats materialize for scan-fused work.
    def bg(foldCond: org.apache.spark.sql.Column): DataFrame = base
      .where(foldCond)
      // r15: one-pass CharNGrams replaces Generate(sequence)+substring
      // (per-position substring = O(len²) byte scans per doc); the
      // when/otherwise keeps the len<2 whole-string fallback the old
      // greatest(len−1, 1) + clamp idiom produced
      .select(col("doc_id"), col("source"), col("fold"),
        explode(
          when(length(col("nrm")) >= 2, graft.functions.CharNGrams.charNGrams(col("nrm"), 2))
            .otherwise(array(col("nrm")))).as("b"))
    val m2 = bg(col("fold") <= 7).groupBy(col("b")).agg(count(lit(1)).as("c2"))
      .localCheckpoint(true)
    // context table: total count and distinct-successor count per w1;
    // every b in m2 is a distinct type, so N1+ is a plain count
    val ctx = m2.groupBy(substring(col("b"), 1, 1).as("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1"))
    // continuation table: distinct-predecessor count per w2, plus the
    // global type total as a 1-row broadcast
    val cont   = m2.groupBy(substring(col("b"), 2, 1).as("w2")).agg(count(lit(1)).as("nc"))
    val ntypes = m2.agg(count(lit(1)).as("nt"))
    val scored = bg(col("fold") >= 8)
      .join(broadcast(m2), Seq("b"), "left")
      .join(broadcast(ctx), substring(col("b"), 1, 1) === col("w1"), "left")
      .join(broadcast(cont), substring(col("b"), 2, 1) === col("w2"), "left")
      .crossJoin(broadcast(ntypes))
      .withColumn(
        "p_kn",
        expr(
          "CASE WHEN c1 IS NULL THEN NULL ELSE" +
            " (greatest(CAST(coalesce(c2, 0) AS DOUBLE) - 0.75D, 0D)" +
            " + 0.75D * CAST(n1 AS DOUBLE) * CAST(coalesce(nc, 0) AS DOUBLE) / CAST(nt AS DOUBLE))" +
            " / CAST(c1 AS DOUBLE) END"))
      .select(
        col("source"), col("doc_id"),
        expr(
          s"CASE WHEN p_kn IS NULL OR p_kn <= 0D THEN ${floorMicro}L" +
            " ELSE CAST(round(round(ln(p_kn), 6) * 1000000, 0) AS BIGINT) END").as("logp_kn_micro"),
        expr(
          s"CASE WHEN c2 IS NULL OR c1 IS NULL THEN ${floorMicro}L" +
            " ELSE CAST(round(round(ln(CAST(c2 AS DOUBLE)) - ln(CAST(c1 AS DOUBLE)), 6) * 1000000, 0) AS BIGINT) END")
          .as("logp_mle_micro"),
        expr("CASE WHEN c2 IS NOT NULL THEN 1L WHEN c1 IS NOT NULL THEN 0L ELSE -1L END").as("path"))
    scored
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_val_docs"),
        count(lit(1)).as("n_bigrams"),
        expr("CAST(-sum(logp_mle_micro) div count(1) AS BIGINT)").as("nll_mle_micro"),
        expr("CAST(-sum(logp_kn_micro) div count(1) AS BIGINT)").as("nll_kn_micro"),
        sum(when(col("path") === 0L, 1L).otherwise(0L)).as("n_backoff"),
        sum(when(col("path") === -1L, 1L).otherwise(0L)).as("n_ctx_oov"))
      .withColumn("kn_gain_micro", expr("nll_mle_micro - nll_kn_micro"))
  }

  private val textKnContinuationSql = {
    import Parity.normSql
    s"""WITH base AS (
       |  SELECT doc_id, source, $normSql AS nrm,
       |    CAST('0x' || substr(md5('cv:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 AS fold
       |  FROM documents),
       |bg AS MATERIALIZED (
       |  SELECT doc_id, source, fold, substr(nrm, i, 2) AS b
       |  FROM base,
       |  UNNEST(range(1, greatest(len(nrm) - 1, 1) + 1)) t(i)),
       |m2 AS MATERIALIZED (SELECT b, count(*) AS c2 FROM bg WHERE fold <= 7 GROUP BY 1),
       |ctx AS (
       |  SELECT substr(b, 1, 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS n1
       |  FROM m2 GROUP BY 1),
       |cont AS (SELECT substr(b, 2, 1) AS w2, count(*) AS nc FROM m2 GROUP BY 1),
       |nt AS (SELECT count(*) AS nt FROM m2),
       |scored AS (
       |  SELECT v.source, v.doc_id,
       |    CASE WHEN x.c1 IS NULL THEN NULL ELSE
       |      (greatest(CAST(coalesce(m.c2, 0) AS DOUBLE) - 0.75, 0)
       |       + 0.75 * CAST(x.n1 AS DOUBLE) * CAST(coalesce(co.nc, 0) AS DOUBLE) / CAST(nt.nt AS DOUBLE))
       |      / CAST(x.c1 AS DOUBLE) END AS p_kn,
       |    m.c2, x.c1,
       |    CASE WHEN m.c2 IS NOT NULL THEN 1 WHEN x.c1 IS NOT NULL THEN 0 ELSE -1 END AS path
       |  FROM (SELECT * FROM bg WHERE fold >= 8) v
       |  LEFT JOIN m2 m ON m.b = v.b
       |  LEFT JOIN ctx x ON x.w1 = substr(v.b, 1, 1)
       |  LEFT JOIN cont co ON co.w2 = substr(v.b, 2, 1), nt),
       |lp AS (
       |  SELECT source, doc_id, path,
       |    CASE WHEN p_kn IS NULL OR p_kn <= 0 THEN -13815511
       |      ELSE CAST(round(round(ln(p_kn), 6) * 1000000) AS BIGINT) END AS logp_kn_micro,
       |    CASE WHEN c2 IS NULL OR c1 IS NULL THEN -13815511
       |      ELSE CAST(round(round(ln(CAST(c2 AS DOUBLE)) - ln(CAST(c1 AS DOUBLE)), 6) * 1000000) AS BIGINT) END
       |      AS logp_mle_micro
       |  FROM scored)
       |SELECT source,
       |  count(DISTINCT doc_id) AS n_val_docs,
       |  count(*) AS n_bigrams,
       |  CAST(-sum(logp_mle_micro) // count(*) AS BIGINT) AS nll_mle_micro,
       |  CAST(-sum(logp_kn_micro) // count(*) AS BIGINT) AS nll_kn_micro,
       |  CAST(sum(CASE WHEN path = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
       |  CAST(sum(CASE WHEN path = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctx_oov,
       |  CAST(-sum(logp_mle_micro) // count(*) AS BIGINT)
       |    - CAST(-sum(logp_kn_micro) // count(*) AS BIGINT) AS kn_gain_micro
       |FROM lp GROUP BY 1""".stripMargin
  }

  // --------------------------- Holt linear-trend forecast (B263)

  /** Holt double exponential smoothing per event type
    * (`events_holt_linear`), one-step-ahead, scored against the SAME
    * eval set as the lag-1 naive forecaster: level/trend recursions
    * with α = 1/2, β = 1/4 — dyadic coefficients, so the whole DP is
    * EXACT IEEE-double arithmetic that both engines reproduce bit-for-
    * bit (the only output snap is a floor at milli scale). A trending
    * series rewards the trend term; a mean-reverting one punishes it —
    * `holt_beats_naive` reports which this fixture is, measured.
    *
    * Scale shape: the sequential recursion is confined to each type's
    * calendar-bounded daily series — collect_list + one aggregate()
    * fold per type (the B243 bounded-array discipline); the naive
    * baseline is a lag window over the same bounded series; nothing
    * sequential ever touches row-level data.
    */
  private def eventsHoltLinear(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("d", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val naive = daily
      .withColumn("p1", lag(col("c"), 1).over(w))
      .filter(col("p1").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_eval"),
        expr("sum(abs(c - p1)) * 1000").as("naive_sae_milli"))
    val holt = daily
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("d"), col("c")))).as("series"))
      .filter(size(col("series")) >= 2)
      .select(
        col("event_type"),
        expr(
          """aggregate(
            |  series,
            |  named_struct('lvl', CAST(0 AS DOUBLE), 'trd', CAST(0 AS DOUBLE), 'sae', CAST(0 AS DOUBLE), 'n', 0L),
            |  (s, x) -> CASE WHEN s.n = 0L
            |    THEN named_struct('lvl', CAST(x.c AS DOUBLE), 'trd', CAST(0 AS DOUBLE), 'sae', CAST(0 AS DOUBLE), 'n', 1L)
            |    ELSE named_struct(
            |      'lvl', 0.5D * (CAST(x.c AS DOUBLE) + s.lvl + s.trd),
            |      'trd', 0.25D * (0.5D * (CAST(x.c AS DOUBLE) + s.lvl + s.trd) - s.lvl) + 0.75D * s.trd,
            |      'sae', s.sae + abs(CAST(x.c AS DOUBLE) - (s.lvl + s.trd)),
            |      'n', s.n + 1L) END,
            |  s -> CAST(floor(s.sae * 1000D) AS BIGINT))""".stripMargin).as("holt_sae_milli"))
    holt
      .join(naive, Seq("event_type"))
      .select(
        col("event_type"),
        col("n_eval"),
        col("holt_sae_milli"),
        col("naive_sae_milli"),
        expr("holt_sae_milli div n_eval").as("holt_mae_milli"),
        expr("naive_sae_milli div n_eval").as("naive_mae_milli"),
        when(col("holt_sae_milli") < col("naive_sae_milli"), 1L).otherwise(0L).as("holt_beats_naive"))
  }

  private val eventsHoltLinearSql =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1, 2),
      |sr AS MATERIALIZED (
      |  SELECT event_type, row_number() OVER (PARTITION BY event_type
      |    ORDER BY date_diff('day', DATE '1970-01-01', day)) AS idx, c
      |  FROM daily),
      |keep AS (SELECT event_type FROM sr GROUP BY 1 HAVING count(*) >= 2),
      |rec AS (
      |  SELECT s.event_type, 1 AS idx, CAST(s.c AS DOUBLE) AS lvl,
      |    CAST(0 AS DOUBLE) AS trd, CAST(0 AS DOUBLE) AS sae
      |  FROM sr s JOIN keep k ON k.event_type = s.event_type WHERE s.idx = 1
      |  UNION ALL
      |  SELECT r.event_type, r.idx + 1,
      |    0.5 * (CAST(s.c AS DOUBLE) + r.lvl + r.trd),
      |    0.25 * (0.5 * (CAST(s.c AS DOUBLE) + r.lvl + r.trd) - r.lvl) + 0.75 * r.trd,
      |    r.sae + abs(CAST(s.c AS DOUBLE) - (r.lvl + r.trd))
      |  FROM rec r JOIN sr s ON s.event_type = r.event_type AND s.idx = r.idx + 1),
      |holt AS (
      |  SELECT event_type, CAST(floor(sae * 1000) AS BIGINT) AS holt_sae_milli
      |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY idx DESC) AS rn FROM rec)
      |  WHERE rn = 1),
      |naive AS (
      |  SELECT event_type, count(*) AS n_eval,
      |    CAST(sum(abs(c - p1)) * 1000 AS BIGINT) AS naive_sae_milli
      |  FROM (
      |    SELECT event_type, c, lag(c, 1) OVER (PARTITION BY event_type
      |      ORDER BY date_diff('day', DATE '1970-01-01', day)) AS p1
      |    FROM daily)
      |  WHERE p1 IS NOT NULL GROUP BY 1)
      |SELECT h.event_type, n.n_eval, h.holt_sae_milli, n.naive_sae_milli,
      |  h.holt_sae_milli // n.n_eval AS holt_mae_milli,
      |  n.naive_sae_milli // n.n_eval AS naive_mae_milli,
      |  CAST(CASE WHEN h.holt_sae_milli < n.naive_sae_milli THEN 1 ELSE 0 END AS BIGINT)
      |    AS holt_beats_naive
      |FROM holt h JOIN naive n ON n.event_type = h.event_type""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_kn_continuation", Seq("B262"), textKnContinuation, textKnContinuationSql),
    QuerySpec("events_holt_linear", Seq("B263"), eventsHoltLinear, eventsHoltLinearSql)
  )
}
