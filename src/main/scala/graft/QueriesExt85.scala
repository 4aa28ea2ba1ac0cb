package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-13 additions, batch 59 (B306–B309): one Lloyd iteration of PQ
  * codebook training, RAKE keyphrase extraction, JL random-projection
  * distortion, and sweep-line concurrency with the Little's-law
  * cross-check.
  */
object QueriesExt85 {

  // ------------------------- PQ codebook Lloyd iteration (B306)

  /** `embed_pq_train_iter` — one Lloyd (k-means) iteration of product-
    * quantization codebook training: B155's codebooks are md5-seeded and
    * training-free; this takes the same 8×(16-centroid) seeding, assigns
    * every subvector, recomputes centroids as floored integer-micro
    * means, re-assigns, and reports per-subspace quantization error
    * before and after. Lloyd's monotonicity (assignment to nearest +
    * mean recomputation can only shrink summed squared error, up to the
    * ≤1-micro flooring) is the spec-pinned invariant — the training step
    * an operator runs until the error curve flattens.
    *
    * Determinism: coordinates snap to integer micros at load; distances,
    * errors, and (floored-mean) centroids are pure BIGINT arithmetic —
    * ties broken by code id. The mean's floor() goes through DOUBLE
    * (exact: |sums| < 2⁵³) so both engines floor identically even for
    * negative sums (Spark's `div` truncates toward zero, DuckDB's `//`
    * floors — the one integer operator the two disagree on).
    *
    * Scale shape: the 128-row codebook broadcasts; assignment is a
    * corpus×16-per-subspace broadcast join with an in-row fused distance
    * fold; centroid recomputation is a (sub, code, dim)-keyed agg over
    * ≤1024 cells. Two passes, nothing quadratic.
    */
  private def embedPqTrainIter(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val subv = emb
      .select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("sub"), col("embedding"))
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        expr("transform(slice(embedding, CAST(sub AS INT) * 8 + 1, 8)," +
          " x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))").as("sv"))
    val wSeed = Window.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val seeds = emb
      .select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(16)
      .withColumn("code", (row_number().over(wSeed) - 1).cast("long"))
    val cents0 = seeds.join(subv, Seq("vec_id"))
      .select(col("sub"), col("code"), col("sv").as("cv"))
    def assign(cents: DataFrame): DataFrame = {
      val scored = subv
        .join(broadcast(cents), Seq("sub"))
        .withColumn("d2", expr(
          "aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), (acc, y) -> acc + y)"))
      val w = Window.partitionBy(col("vec_id"), col("sub")).orderBy(col("d2"), col("code"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("sub"), col("code"), col("sv"), col("d2"))
    }
    val asg1 = assign(cents0)
    val err1 = asg1.groupBy(col("sub"))
      .agg(count(lit(1)).as("n_points"), sum(col("d2")).as("err_before"))
    val cents1 = asg1
      .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("dim", "v")))
      .groupBy(col("sub"), col("code"), col("dim"))
      .agg(sum(col("v")).as("sv_sum"), count(lit(1)).as("cnt"))
      .select(col("sub"), col("code"), col("dim"),
        expr("CAST(floor(CAST(sv_sum AS DOUBLE) / cnt) AS BIGINT)").as("m"))
      .groupBy(col("sub"), col("code"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, m))), t -> t.m)").as("cv"))
    val err2 = assign(cents1).groupBy(col("sub"))
      .agg(sum(col("d2")).as("err_after"))
    err1.join(err2, Seq("sub"))
      .select(col("sub").as("subspace"), col("n_points"), col("err_before"), col("err_after"))
  }

  private val embedPqTrainIterSql =
    """WITH subv AS (SELECT vec_id, sub,
      |    [CAST(round(CAST(embedding[sub * 8 + i] AS DOUBLE) * 1000000) AS BIGINT)
      |     for i in range(1, 9)] AS sv
      |  FROM embeddings, (SELECT unnest(range(0, 8)) AS sub)),
      |seeds AS (SELECT vec_id,
      |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
      |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |cents0 AS (SELECT v.sub, s.code, v.sv AS cv FROM seeds s JOIN subv v ON v.vec_id = s.vec_id),
      |a1 AS (SELECT vec_id, sub, code, sv, d2,
      |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
      |  FROM (SELECT sv.vec_id, sv.sub, c.code, sv.sv,
      |      list_sum([(sv.sv[i] - c.cv[i]) * (sv.sv[i] - c.cv[i]) for i in range(1, 9)]) AS d2
      |    FROM subv sv JOIN cents0 c ON c.sub = sv.sub)),
      |asg1 AS (SELECT * FROM a1 WHERE rn = 1),
      |err1 AS (SELECT sub, count(*) AS n_points, CAST(sum(d2) AS BIGINT) AS err_before
      |  FROM asg1 GROUP BY 1),
      |cl AS (SELECT sub, code, dim, CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS m
      |  FROM (SELECT sub, code, generate_subscripts(sv, 1) AS dim, unnest(sv) AS v FROM asg1)
      |  GROUP BY 1, 2, 3),
      |cents1 AS (SELECT sub, code, list(m ORDER BY dim) AS cv FROM cl GROUP BY 1, 2),
      |a2 AS (SELECT vec_id, sub, code, d2,
      |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
      |  FROM (SELECT sv.vec_id, sv.sub, c.code,
      |      list_sum([(sv.sv[i] - c.cv[i]) * (sv.sv[i] - c.cv[i]) for i in range(1, 9)]) AS d2
      |    FROM subv sv JOIN cents1 c ON c.sub = sv.sub)),
      |err2 AS (SELECT sub, CAST(sum(d2) AS BIGINT) AS err_after FROM a2 WHERE rn = 1 GROUP BY 1)
      |SELECT e1.sub AS subspace, e1.n_points, e1.err_before, e2.err_after
      |FROM err1 e1 JOIN err2 e2 ON e1.sub = e2.sub""".stripMargin

  // ------------------------- RAKE keyphrase extraction (B307)

  /** `text_rake_keyphrases` — RAKE (Rapid Automatic Keyword Extraction,
    * Rose et al., public): candidate phrases are maximal stopword-free
    * token runs (capped at 4 words); each word scores degree/freq where
    * freq counts its occurrences and degree sums the lengths of the
    * phrases it appears in; a phrase scores the sum of its words. The
    * corpus-level top-20 keyphrases — the phrase-aware complement of
    * B13's unigram tf-idf and B146's PMI collocations (those find words
    * and pairs; this finds variable-length phrases without any
    * co-occurrence window parameter).
    *
    * Determinism: word scores are integer micros (degree·1e6 div freq,
    * both non-negative), phrase scores are integer sums of them; top-20
    * ties break on the phrase string.
    *
    * Scale shape: phrase segmentation is one per-doc running-sum window
    * (stopword boundaries increment the phrase id); word scores live on
    * the word-type-bounded vocabulary and broadcast back; phrase
    * assembly is a (doc, phrase)-keyed agg; the final top-20 is a
    * TakeOrdered.
    */
  private def textRakeKeyphrases(s: SparkSession, dir: String): DataFrame = {
    val stopArr = operators.TextAnalysis.Stopwords.map(w => s"'$w'").mkString("array(", ",", ")")
    val tok = documents(s, dir)
      .select(col("doc_id"),
        posexplode(operators.TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("is_stop", expr(s"array_contains($stopArr, tok)"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cand = tok
      .withColumn("pid", sum(when(col("is_stop"), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("is_stop"))
      .select(col("doc_id"), col("pid"), col("pos"), col("tok"))
    // r16, examined and kept AS-IS after two measured attempts:
    //  (a) replacing the phrase-length agg+join with a count window over
    //      (doc_id, pid) — 2.20 → ~2.6 s solo (trades the broadcast join
    //      for a corpus-wide (doc_id, pid) sort);
    //  (b) persisting CAND instead of KEPT so the segmentation subtree
    //      runs once — 2.20 → 2.58 s solo (the cache materializes the
    //      LARGER pre-filter table and the join then runs once per
    //      consumer).
    // The double Generate+Window subtree in the plan is cheaper here
    // than either alternative's extra work; recorded so r17 doesn't
    // retry blind (the embed_pq_train_iter discipline).
    val phraseLen = cand.groupBy(col("doc_id"), col("pid"))
      .agg(count(lit(1)).as("n_words"))
      .filter(col("n_words") <= 4)
    // token-sized; persisted because word scoring AND phrase assembly
    // both consume it (unpersisted, the segmentation windows re-ran per
    // consumer: 4.2×/decade in the sf1 probe)
    val kept = cand.join(phraseLen, Seq("doc_id", "pid")).persist()
    val wordScore = kept
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("n_words")).as("degree"))
      .select(col("tok"), expr("degree * 1000000 div freq").as("ws_micro"))
    val phrases = kept
      .join(broadcast(wordScore), Seq("tok"))
      .groupBy(col("doc_id"), col("pid"))
      .agg(
        expr("array_join(transform(sort_array(collect_list(struct(pos, tok))), t -> t.tok), ' ')")
          .as("phrase"),
        sum(col("ws_micro")).as("score_micro"),
        max(col("n_words")).as("n_words"))
    val top = phrases
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"), min(col("score_micro")).as("score_micro"),
        min(col("n_words")).as("n_words"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(20)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("score_micro").desc, col("phrase"))).cast("long"))
      .select(col("rank"), col("phrase"), col("n_words"), col("n_occurrences"), col("score_micro"))
  }

  private val textRakeKeyphrasesSql = {
    import Parity.normSql
    val stopList = operators.TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH tok AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS tok
       |  FROM (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents)),
       |marked AS (SELECT doc_id, pos, tok, list_contains($stopList, tok) AS is_stop FROM tok),
       |pids AS (SELECT doc_id, pos, tok, is_stop,
       |    sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS pid
       |  FROM marked),
       |cand AS (SELECT doc_id, pid, pos, tok FROM pids WHERE NOT is_stop),
       |plen AS (SELECT doc_id, pid, count(*) AS n_words FROM cand GROUP BY 1, 2
       |  HAVING count(*) <= 4),
       |kept AS (SELECT c.doc_id, c.pid, c.pos, c.tok, p.n_words
       |  FROM cand c JOIN plen p ON p.doc_id = c.doc_id AND p.pid = c.pid),
       |ws AS (SELECT tok, CAST(CAST(sum(n_words) AS BIGINT) * 1000000 // count(*) AS BIGINT) AS ws_micro
       |  FROM kept GROUP BY 1),
       |ph AS (SELECT k.doc_id, k.pid,
       |    string_agg(k.tok, ' ' ORDER BY k.pos) AS phrase,
       |    CAST(sum(w.ws_micro) AS BIGINT) AS score_micro,
       |    max(k.n_words) AS n_words
       |  FROM kept k JOIN ws w ON w.tok = k.tok GROUP BY 1, 2),
       |agg AS (SELECT phrase, count(*) AS n_occurrences, min(score_micro) AS score_micro,
       |    min(n_words) AS n_words
       |  FROM ph GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, phrase) AS BIGINT) AS rank,
       |  phrase, n_words, n_occurrences, score_micro
       |FROM agg ORDER BY score_micro DESC, phrase LIMIT 20""".stripMargin
  }

  // ------------------------- JL random-projection distortion (B308)

  /** `embed_jl_distortion` — the Johnson–Lindenstrauss check for the
    * 64→16 Rademacher (±1) projection: squared L2 distances of 499
    * md5-chained vector pairs before and after projecting with the
    * shared md5-derived sign planes, each pair's ratio in ppm of the
    * ideal 16× scale. The JL lemma promises concentration around 1 —
    * this measures the actual distortion band before anyone swaps the
    * 4×-cheaper projected vectors into a distance-based pipeline. B245
    * prices dropping dims by TRUNCATION (keep a prefix); this prices a
    * proper random projection — the comparison that shows why the
    * extra matmul is worth it.
    *
    * Determinism: coordinates snap to integer MILLIS (not micros — the
    * ratio numerator d16·1e6 must stay inside BIGINT: milli coords bound
    * it by ~7e16); ±1 projections keep everything BIGINT end to end
    * (y = Σ ±xᵢ — no doubles anywhere); the pair list is the md5-rank
    * chain (i, i+1), the bounded deterministic sample discipline.
    *
    * Scale shape: projection is an in-row 16-fold over each vector
    * (fused, linear); the pair join is rank-adjacent (n−1 pairs, never
    * quadratic); output is one summary row.
    */
  private def embedJlDistortion(s: SparkSession, dir: String): DataFrame = {
    val planes = operators.Similarity.signPlanes(16, 64)
    val emb = embeddings(s, dir)
    val xm = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))")
        .as("xm"))
    val yCols = (0 until 16).map { j =>
      val signs = planes(j).map(v => if (v > 0) "1" else "-1").mkString("array(", "L,", "L)")
      expr(s"aggregate(zip_with(xm, $signs, (a, s) -> a * s), CAST(0 AS BIGINT), (acc, y) -> acc + y)")
        .as(s"y$j")
    }
    val proj = xm.select((col("vec_id") +: col("xm") +: yCols): _*)
      .withColumn("y", array((0 until 16).map(j => col(s"y$j")): _*))
      .select(col("vec_id"), col("xm"), col("y"))
    val wRank = Window.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    val ranked = proj.withColumn("r", row_number().over(wRank))
    val pairs = ranked.as("a")
      .join(ranked.as("b"), col("b.r") === col("a.r") + 1)
      .select(
        expr("aggregate(zip_with(a.xm, b.xm, (p, q) -> (p - q) * (p - q)), CAST(0 AS BIGINT), (acc, v) -> acc + v)")
          .as("d64"),
        expr("aggregate(zip_with(a.y, b.y, (p, q) -> (p - q) * (p - q)), CAST(0 AS BIGINT), (acc, v) -> acc + v)")
          .as("d16"))
      .filter(col("d64") > 0)
      .select(expr("d16 * 1000000 div (16 * d64)").as("ratio_ppm"))
    pairs.agg(
      count(lit(1)).as("n_pairs"),
      expr("sum(ratio_ppm) div count(1)").as("mean_ratio_ppm"),
      min(col("ratio_ppm")).as("min_ratio_ppm"),
      max(col("ratio_ppm")).as("max_ratio_ppm"))
  }

  private val embedJlDistortionSql = {
    val planes = operators.Similarity.signPlanes(16, 64)
    val yExprs = (0 until 16).map { j =>
      val signs = planes(j).map(v => if (v > 0) "1" else "-1").mkString("[", ",", "]")
      s"list_sum([xm[i] * ($signs)[i] for i in range(1, 65)])"
    }.mkString("[", ",\n      ", "]")
    s"""WITH xm AS (SELECT vec_id,
       |    [CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) for x in embedding] AS xm
       |  FROM embeddings),
       |proj AS (SELECT vec_id, xm, $yExprs AS y FROM xm),
       |ranked AS (SELECT vec_id, xm, y,
       |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
       |  FROM proj),
       |pairs AS (SELECT
       |    list_sum([(a.xm[i] - b.xm[i]) * (a.xm[i] - b.xm[i]) for i in range(1, 65)]) AS d64,
       |    list_sum([(a.y[i] - b.y[i]) * (a.y[i] - b.y[i]) for i in range(1, 17)]) AS d16
       |  FROM ranked a JOIN ranked b ON b.r = a.r + 1),
       |ratios AS (SELECT CAST(d16 * 1000000 // (16 * d64) AS BIGINT) AS ratio_ppm
       |  FROM pairs WHERE d64 > 0)
       |SELECT count(*) AS n_pairs,
       |  CAST(sum(ratio_ppm) // count(*) AS BIGINT) AS mean_ratio_ppm,
       |  min(ratio_ppm) AS min_ratio_ppm, max(ratio_ppm) AS max_ratio_ppm
       |FROM ratios""".stripMargin
  }

  // ------------------------- sweep-line concurrency + Little's law (B309)

  /** `events_concurrency_littles_law` — true interval concurrency by
    * sweep line, certified by Little's law: each user's presence
    * interval is [first event, last event]; +1/−1 deltas at the
    * endpoints, prefix-summed in time order, give the exact
    * time-weighted average (and peak) number of concurrently-present
    * users — what B144's hourly buckets approximate. The cross-check is
    * the identity L·T = Σ durations (λ·W·T): the sweep-line area and
    * the direct duration sum are INDEPENDENT routes to the same number
    * (the B88 two-route pattern), so `littles_ratio_ppm` must read
    * exactly 1 000 000 — any deviation is a sweep-line bug, not noise.
    *
    * Scale shape: intervals are one per-user min/max agg (keyed,
    * map-side combined); the sweep runs over 2·users boundary points
    * (user-bounded, not event-bounded) — the one ordered prefix pass,
    * corpus_epoch_order's class; everything is exact integer ms.
    */
  private def eventsConcurrencyLittlesLaw(s: SparkSession, dir: String): DataFrame = {
    val iv = events(s, dir)
      .select(col("user_id"), expr("unix_millis(ts)").as("ms"))
      .groupBy(col("user_id"))
      .agg(min(col("ms")).as("t0"), max(col("ms")).as("t1"))
    val pts = iv.select(col("t0").as("ts"), lit(1L).as("delta"))
      .unionByName(iv.select(col("t1").as("ts"), lit(-1L).as("delta")))
      .groupBy(col("ts")).agg(sum(col("delta")).as("d"))
    // r16 (§2.4): the sweep used to run as ONE unpartitioned
    // Window.orderBy(ts) prefix sum over ≤2·|users| boundary points —
    // user-count-sized, not model-sized, the registry's clearest
    // single-partition-window violation. Two replacements, both exact
    // integer arithmetic with bit-identical outputs:
    //  - area: Σᵢ cᵢ·(tsᵢ₊₁−tsᵢ) with c = prefix-sum(d) telescopes to
    //    Σⱼ dⱼ·(ts_max − tsⱼ) (swap the double sum; the last point's
    //    seg is 0 via the old coalesce, and ts_max is the largest
    //    boundary), so the area needs NO window — one plain aggregate.
    //  - peak: max prefix sum via the standard two-phase scan — a
    //    per-bucket prefix sum (ts-range buckets, hash-partitioned
    //    window) plus bucket-total offsets computed on the ≤nb-row
    //    bucket table (model-sized by construction) and broadcast back.
    val base = iv.agg(
      count(lit(1)).as("n_users"),
      sum(col("t1") - col("t0")).as("sum_dur_ms"),
      min(col("t0")).as("ts_min"),
      max(col("t1")).as("ts_max"))
    val nb = 1024
    val ptsB = pts
      .crossJoin(broadcast(base.select(col("ts_min"), col("ts_max"))))
      // monotone in ts, lands in [0, nb-1]; +1 keeps ts_max inside;
      // integer div (Spark's `/` on longs is double division)
      .withColumn("bkt", expr(s"(ts - ts_min) * $nb div (ts_max - ts_min + 1)"))
      .select(col("ts"), col("d"), col("bkt"))
    val wLocal = Window.partitionBy(col("bkt")).orderBy(col("ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ptsB.withColumn("lc", sum(col("d")).over(wLocal))
    // Per bucket: the local MAX prefix and the bucket TOTAL (= last local
    // prefix) — then the global peak is computable on the ≤nb-row bucket
    // table alone (max over buckets of exclusive-offset + local max), so
    // nothing joins back to the point table. The area aggregate rides the
    // same pass (Σ d·(tmax − ts), grouped by bucket then summed).
    // The bucket-table window is single-partition but CONSTANT-bounded
    // (≤nb rows), not data-sized.
    val wOff = Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val bstats = local
      .crossJoin(broadcast(base.select(col("ts_max").as("tmax"))))
      .groupBy(col("bkt"))
      .agg(
        max(col("lc")).as("lm"),
        max_by(col("lc"), col("ts")).as("bd"),
        sum(expr("d * (tmax - ts)")).as("ba"))
    val area = bstats
      .withColumn("off", coalesce(sum(col("bd")).over(wOff), lit(0L)))
      .agg(
        sum(col("ba")).as("area_ms"),
        max(col("off") + col("lm")).as("peak_concurrency"))
    base
      .select(col("n_users"), col("sum_dur_ms"), (col("ts_max") - col("ts_min")).as("span_ms"))
      .crossJoin(area)
      .select(
        col("n_users"), col("span_ms"), col("sum_dur_ms"),
        col("area_ms"), col("peak_concurrency"),
        expr("sum_dur_ms div n_users").as("mean_presence_ms"),
        expr("area_ms * 1000 div span_ms").as("avg_concurrency_milli"),
        // area_ms can exceed 9.2e12 (sum of per-user presence) — the ppm
        // numerator must go through DECIMAL or it overflows at sf1+
        expr("CASE WHEN sum_dur_ms = 0 THEN NULL ELSE " +
          "CAST(CAST(area_ms AS DECIMAL(38,0)) * 1000000 div sum_dur_ms AS BIGINT) END")
          .as("littles_ratio_ppm"))
  }

  private val eventsConcurrencyLittlesLawSql =
    """WITH iv AS (SELECT user_id, min(epoch_ms(ts)) AS t0, max(epoch_ms(ts)) AS t1
      |  FROM events GROUP BY 1),
      |pts AS (SELECT ts, CAST(sum(delta) AS BIGINT) AS d FROM (
      |    SELECT t0 AS ts, 1 AS delta FROM iv
      |    UNION ALL SELECT t1, -1 FROM iv) GROUP BY 1),
      |swept AS (SELECT ts, d,
      |    sum(d) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
      |    coalesce(lead(ts) OVER (ORDER BY ts) - ts, 0) AS seg
      |  FROM pts),
      |ar AS (SELECT CAST(sum(c * seg) AS BIGINT) AS area_ms,
      |    CAST(max(c) AS BIGINT) AS peak_concurrency FROM swept),
      |base AS (SELECT count(*) AS n_users, CAST(sum(t1 - t0) AS BIGINT) AS sum_dur_ms,
      |    max(t1) - min(t0) AS span_ms FROM iv)
      |SELECT n_users, span_ms, sum_dur_ms, area_ms, peak_concurrency,
      |  sum_dur_ms // n_users AS mean_presence_ms,
      |  area_ms * 1000 // span_ms AS avg_concurrency_milli,
      |  CASE WHEN sum_dur_ms = 0 THEN NULL
      |       ELSE CAST(CAST(area_ms AS HUGEINT) * 1000000 // sum_dur_ms AS BIGINT) END AS littles_ratio_ppm
      |FROM base, ar""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("embed_pq_train_iter", Seq("B306"), embedPqTrainIter, embedPqTrainIterSql),
    QuerySpec("text_rake_keyphrases", Seq("B307"), textRakeKeyphrases, textRakeKeyphrasesSql),
    QuerySpec("embed_jl_distortion", Seq("B308"), embedJlDistortion, embedJlDistortionSql),
    QuerySpec("events_concurrency_littles_law", Seq("B309"), eventsConcurrencyLittlesLaw, eventsConcurrencyLittlesLawSql)
  )
}
