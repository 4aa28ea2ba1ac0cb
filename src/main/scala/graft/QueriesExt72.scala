package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.{normSql, shinglesSql}

/** Round-11 additions, batch 46: payload-entropy media gating with
  * planted separation (B264), b-bit MinHash priced against the full
  * signatures (B265), the exact one-pass corpus isotropy score the ANN
  * family's flat-elbow/zero-navigability results kept citing (B266),
  * and engagement concentration — Gini + top-decile share — from the
  * bounded count-histogram (B267).
  */
object QueriesExt72 {

  // --------------------------- payload byte entropy (B264)

  /** Byte-level Shannon entropy per media payload
    * (`mm_payload_entropy`): the compressed/encrypted-blob detector a
    * multimodal ingest runs before wasting decode cycles — text and
    * structured payloads sit far below the uniform-byte ceiling,
    * compressed media hugs it. Detector: H > 0.85 · ln(min(n, 256))
    * (the sample-size-aware ceiling — a short blob can never reach
    * ln 256, so the threshold scales with what's reachable). Certified
    * against PLANTED truth, B254's discipline: the fixture's payloads
    * are UTF-8 text (entropy ≈ 3 nats, none should flag), so every
    * 50th doc stages a 64-byte md5-chain blob (near-uniform bytes,
    * H ≈ 3.9–4.0 vs its 0.85·ln 64 ≈ 3.54 threshold) — flag rates
    * reported per (source, is_staged).
    *
    * Determinism: byte counts are exact integers; H is assembled in one
    * identically-shaped double expression per doc and snapped at the
    * B255 round-6 grid; the flag compares integers.
    *
    * Scale shape (r15 diet): ONE fused byte pass per payload inside the
    * codegen'd `ByteEntropyStats` expression (long[256] histogram, no
    * per-byte rows) → source-bounded rollup. The previous form hex'd the
    * payload, built a transform() array via substring+conv per byte, and
    * exploded one row per byte through a (doc, byte) hash-agg — measured
    * 4.2 s at sf0.1 (the #2 query in the r14 bench); the explode and
    * both per-doc exchanges are gone, only the ≤(sources × 2)-row rollup
    * shuffles.
    */
  private def mmPayloadEntropy(s: SparkSession, dir: String): DataFrame = {
    val staged = documents(s, dir)
      .select(
        col("doc_id"), col("source"),
        when(col("doc_id") % 50 === 0, 1L).otherwise(0L).as("is_staged"),
        when(
          col("doc_id") % 50 === 0,
          expr(
            "unhex(concat(md5(concat('p0:', CAST(doc_id AS STRING)))," +
              " md5(concat('p1:', CAST(doc_id AS STRING)))," +
              " md5(concat('p2:', CAST(doc_id AS STRING)))," +
              " md5(concat('p3:', CAST(doc_id AS STRING)))))"))
          .otherwise(expr("encode(text, 'UTF-8')")).as("payload"))
    // null/empty payloads return a null struct and are dropped, exactly
    // like the old pre-explode `WHERE length(hex) >= 2`
    val perDoc = staged
      .select(
        col("source"), col("is_staged"),
        graft.functions.ByteEntropyStats.byteEntropyStats(col("payload")).as("st"))
      .where(col("st").isNotNull)
      .select(
        col("source"), col("is_staged"),
        col("st.h_micro").as("h_micro"),
        expr("CAST(round(round(ln(CAST(least(st.n, 256) AS DOUBLE)), 6) * 1000000, 0) AS BIGINT)")
          .as("ceil_micro"))
    perDoc
      .groupBy(col("source"), col("is_staged"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("CAST(sum(h_micro) div count(1) AS BIGINT)").as("avg_entropy_micro"),
        sum(when(expr("h_micro * 1000 > ceil_micro * 850"), 1L).otherwise(0L)).as("n_flagged"))
      .withColumn("flag_rate_ppm", expr("n_flagged * 1000000 div n_docs"))
  }

  private val mmPayloadEntropySql =
    """WITH staged AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END AS is_staged,
      |    CASE WHEN doc_id % 50 = 0 THEN
      |      unhex(md5('p0:' || CAST(doc_id AS VARCHAR)) || md5('p1:' || CAST(doc_id AS VARCHAR))
      |        || md5('p2:' || CAST(doc_id AS VARCHAR)) || md5('p3:' || CAST(doc_id AS VARCHAR)))
      |      ELSE encode(text) END AS payload
      |  FROM documents),
      |hx AS (SELECT doc_id, source, is_staged, hex(payload) AS hx FROM staged),
      |bytes AS (
      |  SELECT doc_id, source, is_staged,
      |    CAST('0x' || substr(hx, 2 * i - 1, 2) AS BIGINT) AS byte
      |  FROM hx, UNNEST(range(1, len(hx) // 2 + 1)) t(i)),
      |cnt AS (
      |  SELECT doc_id, source, is_staged, byte, count(*) AS c
      |  FROM bytes GROUP BY 1, 2, 3, 4),
      |per_doc AS (
      |  SELECT source, is_staged,
      |    CAST(round(round(ln(CAST(sum(c) AS DOUBLE))
      |      - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE), 6) * 1000000)
      |      AS BIGINT) AS h_micro,
      |    CAST(round(round(ln(CAST(least(sum(c), 256) AS DOUBLE)), 6) * 1000000) AS BIGINT)
      |      AS ceil_micro
      |  FROM cnt GROUP BY doc_id, source, is_staged)
      |SELECT source, CAST(is_staged AS BIGINT) AS is_staged, count(*) AS n_docs,
      |  CAST(sum(h_micro) // count(*) AS BIGINT) AS avg_entropy_micro,
      |  CAST(sum(CASE WHEN h_micro * 1000 > ceil_micro * 850 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(sum(CASE WHEN h_micro * 1000 > ceil_micro * 850 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
      |    // count(*) AS flag_rate_ppm
      |FROM per_doc GROUP BY 1, 2""".stripMargin

  // --------------------------- b-bit minhash pricing (B265)

  /** `dedup_minhash_b_bit` — see operators.Dedup.bBitCalibration: the
    * Li–König 1-bit estimator max(2·m̂−1, 0) beside the full 16×32-bit
    * estimator and exact Jaccard, per full-signature agreement level on
    * the banded candidates. The read: where avg_est_1bit tracks
    * avg_jaccard the 32× signature-storage cut is free; the low-J rows
    * show the variance it costs.
    */
  private def dedupMinhashBBit(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.bBitCalibration(documents(s, dir), "doc_id", "text", shingleWords = 3)

  private val dedupMinhashBBitSql = {
    import QueriesExt.{h32Sql, permsA, permsB}
    s"""WITH nrm AS (SELECT doc_id, $normSql AS norm FROM documents),
       |tok AS (SELECT doc_id, norm, string_split(norm,' ') AS toks FROM nrm),
       |sh AS (SELECT doc_id, ${shinglesSql(3)} AS shingles FROM tok),
       |hs AS (SELECT doc_id, [${h32Sql("s")} for s in shingles] AS hlist,
       |       list_distinct(shingles) AS sset FROM sh),
       |sg AS (SELECT doc_id,
       |  [list_min([($permsA[i]*h + $permsB[i]) % 4294967311 for h in hlist]) for i in range(1,17)] AS sig
       |  FROM hs),
       |bd AS (SELECT doc_id, b AS band,
       |  ${h32Sql("concat_ws(':', sig[4*b+1], sig[4*b+2], sig[4*b+3], sig[4*b+4])")} AS band_hash
       |  FROM sg, range(0,4) t(b)),
       |cand AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bd x JOIN bd y ON x.band=y.band AND x.band_hash=y.band_hash AND x.doc_id<y.doc_id),
       |samp AS MATERIALIZED (SELECT DISTINCT id_a, id_b FROM (
       |  SELECT id_a, id_b FROM cand ORDER BY md5(concat(id_a, ':', id_b)), id_a, id_b LIMIT 50000)),
       |est AS (SELECT c.id_a, c.id_b,
       |    CAST(len([i for i in range(1, 17) if a.sig[i] = b.sig[i]]) AS BIGINT) AS n_match,
       |    CAST(len([i for i in range(1, 17) if a.sig[i] % 2 = b.sig[i] % 2]) AS BIGINT) AS n_match_1bit
       |  FROM samp c JOIN sg a ON c.id_a = a.doc_id JOIN sg b ON c.id_b = b.doc_id),
       |sets AS (SELECT doc_id, unnest(sset) AS shingle FROM hs),
       |sz AS (SELECT doc_id, CAST(len(sset) AS BIGINT) AS set_size FROM hs),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter FROM samp c
       |  JOIN sets sa ON sa.doc_id = c.id_a
       |  JOIN sets sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |pairs AS (SELECT e.n_match,
       |    greatest(2 * e.n_match_1bit - 16, 0) * 1000000 // 16 AS est_1bit_ppm,
       |    CAST(coalesce(i.n_inter, 0) * 1000000
       |         // (za.set_size + zb.set_size - coalesce(i.n_inter, 0)) AS BIGINT) AS jac_ppm
       |  FROM est e
       |  LEFT JOIN inter i ON e.id_a = i.id_a AND e.id_b = i.id_b
       |  JOIN sz za ON za.doc_id = e.id_a JOIN sz zb ON zb.doc_id = e.id_b)
       |SELECT n_match, count(*) AS n_pairs,
       |  CAST(sum(est_1bit_ppm) // count(*) AS BIGINT) AS avg_est_1bit_ppm,
       |  CAST(sum(jac_ppm) // count(*) AS BIGINT) AS avg_jaccard_ppm,
       |  n_match * 1000000 // 16 AS est_full_ppm
       |FROM pairs GROUP BY 1""".stripMargin
  }

  // --------------------------- corpus isotropy score (B266)

  /** Mean pairwise cosine of the WHOLE embedding corpus in one linear
    * pass (`embed_isotropy_score`) — the isotropy number behind B237's
    * 2.6% top-PC, B250's flat elbow, and B244's failed graph walk,
    * finally measured directly: Σᵢ≠ⱼ cos(uᵢ,uⱼ) = ‖Σᵢuᵢ‖² − n for unit
    * vectors, so the all-pairs mean needs only the per-dimension sums.
    * Near 0 ⇒ isotropic (ANN has no cheap global shortcut); near 1 ⇒ a
    * dominant direction (mean-center before indexing).
    *
    * Determinism: unit coordinates are micro-snapped per value, then
    * everything downstream is EXACT integer algebra (DECIMAL(38,0) /
    * HUGEINT for the squared sums) — no float sum-order anywhere.
    *
    * Scale shape (r15 diet): ONE posexplode pass → 64-key (Σu, Σu²)
    * integer sums; both squared totals fall out of the same 64-row
    * aggregate, and n is a column-pruned count on the base table. The
    * previous form scanned the exploded cells TWICE (dims agg + self
    * agg) and — worse — recomputed the full squared-norm `aggregate()`
    * lambda INSIDE the per-element transform, i.e. O(d²) libm work per
    * vector; the norm is now hoisted below the Generate so it is
    * evaluated once per row, O(d).
    */
  private def embedIsotropyScore(s: SparkSession, dir: String): DataFrame = {
    val withNrm = embeddings(s, dir)
      .select(
        col("vec_id"), col("embedding"),
        expr(
          "sqrt(aggregate(embedding, CAST(0 AS DOUBLE), (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))")
          .as("nrm"))
    val cells = withNrm
      .select(col("vec_id"), col("nrm"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(
        col("vec_id"), col("pos"),
        expr("CAST(round(round(CAST(x AS DOUBLE) / nrm, 6) * 1000000, 0) AS BIGINT)").as("ux"))
    val dims = cells.groupBy(col("pos")).agg(
      sum(col("ux")).as("s"),
      sum(expr("CAST(ux AS DECIMAL(38,0)) * ux")).as("sq"))
    val tot = dims.agg(
      sum(expr("CAST(s AS DECIMAL(38,0)) * s")).as("ssq_dims"),
      sum(col("sq")).as("ssq_self"))
    // n = vectors contributing ≥1 element, exactly what the old
    // countDistinct(vec_id)-over-cells counted, without the second
    // corpus-wide explode
    val n = embeddings(s, dir)
      .where(col("embedding").isNotNull && size(col("embedding")) > 0)
      .agg(countDistinct(col("vec_id")).as("n"))
    n.crossJoin(broadcast(tot))
      .select(
        col("n").as("n_vectors"),
        expr("CAST((ssq_dims - ssq_self) div (n * (n - 1)) div 1000000 AS BIGINT)")
          .as("mean_pairwise_cos_micro"))
  }

  private val embedIsotropyScoreSql =
    """WITH unit AS (
      |  SELECT vec_id,
      |    [CAST(round(round(CAST(x AS DOUBLE) /
      |       sqrt(list_sum([CAST(y AS DOUBLE) * CAST(y AS DOUBLE) for y in embedding])), 6) * 1000000)
      |     AS BIGINT) for x in embedding] AS u
      |  FROM embeddings),
      |cells AS (
      |  SELECT vec_id, generate_subscripts(u, 1) AS pos, unnest(u) AS ux FROM unit),
      |dims AS (SELECT pos, CAST(sum(ux) AS BIGINT) AS s FROM cells GROUP BY 1),
      |sq AS (SELECT sum(CAST(s AS HUGEINT) * s) AS ssq_dims FROM dims),
      |sn AS (SELECT sum(CAST(ux AS HUGEINT) * ux) AS ssq_self, count(DISTINCT vec_id) AS n FROM cells)
      |SELECT sn.n AS n_vectors,
      |  CAST((sq.ssq_dims - sn.ssq_self) // (sn.n * (sn.n - 1)) // 1000000 AS BIGINT)
      |    AS mean_pairwise_cos_micro
      |FROM sn, sq""".stripMargin

  // --------------------------- engagement concentration (B267)

  /** Gini coefficient and top-decile share of per-user event counts
    * (`events_gini_concentration`): the inequality readout behind every
    * "whales vs casuals" decision — rate limits, sampling strata (B16),
    * the noisy-neighbor list (B118). Computed EXACTLY from the
    * count-of-counts histogram: users sharing a count value form a rank
    * run, so Σ rank·value needs only per-run arithmetic — Gini =
    * (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending ranks, in
    * DECIMAL(38,0)/HUGEINT. Top-decile share = events held by the
    * n div 10 highest-count users, split mid-run exactly.
    *
    * Scale shape: per-user counts map-side combine; everything after
    * runs on the (count-value → frequency) histogram, bounded by
    * DISTINCT activity levels (power-law corpora keep this tiny); its
    * two rank windows are global but over that bounded table.
    */
  private def eventsGiniConcentration(s: SparkSession, dir: String): DataFrame = {
    val hist = events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("f"))
    val asc  = Window.orderBy(col("c").asc)
    val desc = Window.orderBy(col("c").desc)
    val runs = hist
      .withColumn("cum_lo", sum(col("f")).over(asc))
      .withColumn("cum_hi", sum(col("f")).over(desc))
    // top-decile split: the k = n div 10 highest-count users take
    // min(f, max(k − users_above_this_run, 0)) from each run
    val top = runs
      .crossJoin(broadcast(hist.agg(sum(col("f")).as("nu"))))
      .agg(sum(expr(
        "CAST(c AS DECIMAL(38,0)) * least(f, greatest(nu div 10 - (cum_hi - f), 0L))"))
        .as("top_events"))
    runs
      .agg(
        sum(col("f")).as("n_users"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * f")).as("t_events"),
        // Σ i·x over a run of f copies of c starting at rank r0 =
        // cum_lo − f + 1: c · (f·r0 + f·(f−1)/2)
        sum(expr(
          "CAST(c AS DECIMAL(38,0)) * (f * (cum_lo - f + 1) + f * (f - 1) div 2)")).as("s_rank"))
      .crossJoin(broadcast(top))
      .select(
        col("n_users").cast("long").as("n_users"),
        col("t_events").cast("long").as("n_events"),
        expr("CAST((2 * s_rank - (n_users + 1) * t_events) * 1000000 div (n_users * t_events) AS BIGINT)")
          .as("gini_ppm"),
        expr("CAST(n_users div 10 AS BIGINT)").as("top_decile_users"),
        expr("CAST(top_events * 1000000 div t_events AS BIGINT)").as("top_decile_share_ppm"))
  }

  private val eventsGiniConcentrationSql =
    """WITH pc AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
      |hist AS (SELECT c, count(*) AS f FROM pc GROUP BY 1),
      |runs AS (
      |  SELECT c, f,
      |    sum(f) OVER (ORDER BY c ASC) AS cum_lo,
      |    sum(f) OVER (ORDER BY c DESC) AS cum_hi
      |  FROM hist),
      |nu AS (SELECT CAST(sum(f) AS BIGINT) AS nu FROM hist),
      |base AS (
      |  SELECT CAST(sum(f) AS BIGINT) AS n_users,
      |    sum(CAST(c AS HUGEINT) * f) AS t_events,
      |    sum(CAST(c AS HUGEINT) * (f * (cum_lo - f + 1) + f * (f - 1) // 2)) AS s_rank
      |  FROM runs),
      |top AS (
      |  SELECT sum(CAST(r.c AS HUGEINT) * least(r.f, greatest(nu.nu // 10 - (r.cum_hi - r.f), 0)))
      |    AS top_events
      |  FROM runs r, nu)
      |SELECT b.n_users, CAST(b.t_events AS BIGINT) AS n_events,
      |  CAST((2 * b.s_rank - (b.n_users + 1) * b.t_events) * 1000000
      |    // (b.n_users * b.t_events) AS BIGINT) AS gini_ppm,
      |  b.n_users // 10 AS top_decile_users,
      |  CAST(t.top_events * 1000000 // b.t_events AS BIGINT) AS top_decile_share_ppm
      |FROM base b, top t""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("mm_payload_entropy", Seq("B264"), mmPayloadEntropy, mmPayloadEntropySql),
    QuerySpec("dedup_minhash_b_bit", Seq("B265"), dedupMinhashBBit, dedupMinhashBBitSql),
    QuerySpec("embed_isotropy_score", Seq("B266"), embedIsotropyScore, embedIsotropyScoreSql),
    QuerySpec("events_gini_concentration", Seq("B267"), eventsGiniConcentration, eventsGiniConcentrationSql)
  )
}
