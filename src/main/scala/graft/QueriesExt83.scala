package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-13 additions, batch 57 (B298–B301): DSIR importance weights,
  * aspect-ratio bucketing, hard-negative triplet mining, and the
  * always-valid sequential A/B test.
  */
object QueriesExt83 {

  // ------------------------- DSIR importance weights (B298)

  /** `text_dsir_weights` — Data Selection via Importance Resampling
    * (Xie et al. 2023, public): score every document by how much more
    * likely its unigrams are under a TARGET distribution (here: the
    * corpus's English slice) than under the raw corpus distribution.
    * log w(x) = Σ_tok cnt_tok(x) · (ln p̂_tgt(tok) − ln p̂_all(tok)) with
    * add-one smoothing over a min-count-5 vocabulary; the top-50 docs by
    * weight are what importance resampling would feed the training mix
    * first. The quality-filter complement of B179's temperature mix:
    * that reweights SOURCES, this reweights DOCUMENTS toward a target
    * distribution.
    *
    * Determinism: each vocab word's log-ratio is computed ONCE in the
    * (word-type-bounded) vocab table, round-6-snapped to exact integer
    * MICROS there, and the per-doc score is then an integer
    * Σ cnt·lr_micros — summation-order-free, the
    * rpLshCalibration/lm_score discipline.
    *
    * Scale shape: one token explode (linear, no shuffle), a
    * vocab-bounded word agg (map-side combine), the scoring join
    * broadcasts the vocab while (doc, tok) counts stream, and the
    * global top-50 is a TakeOrdered — the corpus shuffles once on
    * (doc_id, tok) and never again.
    */
  private def textDsirWeights(s: SparkSession, dir: String): DataFrame = {
    // doc_id/lang projection computed once: the token explode feeds TWO
    // consumers (docTok and vocab) and the final left join re-reads the
    // projection — persisted, the corpus-sized explode runs once instead
    // of once per consumer (the B300/B307/B311 multi-consumer discipline;
    // r13 advice)
    val docs = documents(s, dir).select(col("doc_id"), col("lang"), col("text"))
    val tok = docs
      .select(col("doc_id"), col("lang"),
        explode(operators.TextAnalysis.tokens(col("text"))).as("tok"))
      .persist()
    val docTok = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
    val vocab = tok
      .groupBy(col("tok"))
      .agg(
        count(lit(1)).as("cnt_all"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cnt_tgt"))
      .filter(col("cnt_all") >= 5)
    val tot = vocab.agg(
      sum(col("cnt_all")).as("tot_all"),
      sum(col("cnt_tgt")).as("tot_tgt"),
      count(lit(1)).as("vsize"))
    val lr = vocab
      .crossJoin(broadcast(tot))
      .select(
        col("tok"),
        expr(
          "CAST(round((ln(CAST(cnt_tgt + 1 AS DOUBLE)) - ln(CAST(tot_tgt + vsize AS DOUBLE)) " +
            "- ln(CAST(cnt_all + 1 AS DOUBLE)) + ln(CAST(tot_all + vsize AS DOUBLE))) * 1000000, 0) AS BIGINT)")
          .as("lr_micros"))
    val docw = docTok
      .join(broadcast(lr), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt") * col("lr_micros")).as("logw_micros"),
        sum(col("cnt")).as("n_vocab_toks"))
    val scored = docs
      .select(col("doc_id"), col("lang"))
      .join(docw, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("lang"),
        coalesce(col("n_vocab_toks"), lit(0L)).as("n_vocab_toks"),
        coalesce(col("logw_micros"), lit(0L)).as("logw_micros"))
    val top = scored.orderBy(col("logw_micros").desc, col("doc_id")).limit(50)
    top
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("logw_micros").desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("lang"), col("n_vocab_toks"), col("logw_micros"))
  }

  private val textDsirWeightsSql = {
    import Parity.normSql
    s"""WITH nrm AS (SELECT doc_id, lang, string_split($normSql,' ') AS toks FROM documents),
       |tok AS (SELECT doc_id, lang, unnest(toks) AS tok FROM nrm),
       |dt AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
       |vocab AS (SELECT tok, count(*) AS cnt_all,
       |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS cnt_tgt
       |  FROM tok GROUP BY 1 HAVING count(*) >= 5),
       |tot AS (SELECT CAST(sum(cnt_all) AS BIGINT) AS tot_all,
       |    CAST(sum(cnt_tgt) AS BIGINT) AS tot_tgt, count(*) AS vsize FROM vocab),
       |lr AS (SELECT tok,
       |    CAST(round((ln(CAST(cnt_tgt + 1 AS DOUBLE)) - ln(CAST(tot_tgt + vsize AS DOUBLE))
       |      - ln(CAST(cnt_all + 1 AS DOUBLE)) + ln(CAST(tot_all + vsize AS DOUBLE))) * 1000000, 0) AS BIGINT)
       |      AS lr_micros
       |  FROM vocab, tot),
       |dw AS (SELECT d.doc_id, CAST(sum(d.cnt * l.lr_micros) AS BIGINT) AS logw_micros,
       |    CAST(sum(d.cnt) AS BIGINT) AS n_vocab_toks
       |  FROM dt d JOIN lr l USING (tok) GROUP BY 1),
       |r AS (SELECT doc.doc_id, doc.lang,
       |    coalesce(dw.n_vocab_toks, 0) AS n_vocab_toks,
       |    coalesce(dw.logw_micros, 0) AS logw_micros
       |  FROM documents doc LEFT JOIN dw ON doc.doc_id = dw.doc_id)
       |SELECT CAST(row_number() OVER (ORDER BY logw_micros DESC, doc_id) AS BIGINT) AS rank,
       |  doc_id, lang, n_vocab_toks, logw_micros
       |FROM r ORDER BY logw_micros DESC, doc_id LIMIT 50""".stripMargin
  }

  // ------------------------- aspect-ratio bucketing (B299)

  /** `mm_aspect_buckets` — SDXL-style aspect-ratio bucketing for image
    * training batches: each image (staged deterministic pixel dims from
    * doc_id, the B88 mm idiom) is assigned to the fixed-area bucket
    * whose aspect ratio it matches best, and each bucket reports its
    * population and the crop waste the assignment costs. This is how
    * multimodal trainers batch variable-aspect images without
    * catastrophic cropping — the batch-shape planner next to
    * B24's sequence packing (that packs token lengths, this packs pixel
    * aspect ratios).
    *
    * Determinism: the fit metric and the waste are pure integer
    * arithmetic — fit_ppm = |w·bh − h·bw|·1e6 div (h·bh) (the
    * cross-multiplied aspect difference), waste_ppm = 1e6 −
    * min(w·bh, h·bw)·1e6 div max(w·bh, h·bw) — ties broken by
    * bucket_id, no doubles anywhere.
    *
    * Scale shape: the 9-bucket table broadcasts; assignment is a 9-way
    * row-local argmin (cross join + per-image rank, never a shuffle of
    * the corpus against itself); the readout is one 9-group hash agg.
    */
  private def mmAspectBuckets(s: SparkSession, dir: String): DataFrame = {
    val dims = documents(s, dir).select(
      col("doc_id"),
      expr("(doc_id % 64 + 16) * 16").as("w"),
      expr("((doc_id * 7) % 64 + 16) * 16").as("h"))
    val buckets = s.createDataFrame(Seq(
      (1L, 512L, 2048L), (2L, 576L, 1664L), (3L, 704L, 1408L),
      (4L, 832L, 1216L), (5L, 1024L, 1024L), (6L, 1216L, 832L),
      (7L, 1408L, 704L), (8L, 1664L, 576L), (9L, 2048L, 512L)
    )).toDF("bucket_id", "bw", "bh")
    val scored = dims
      .crossJoin(broadcast(buckets))
      .withColumn("fit_ppm", expr("abs(w * bh - h * bw) * 1000000 div (h * bh)"))
    val rn = row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("fit_ppm"), col("bucket_id")))
    scored
      .withColumn("rn", rn)
      .filter(col("rn") === 1)
      .withColumn(
        "waste_ppm",
        expr("1000000 - least(w * bh, h * bw) * 1000000 div greatest(w * bh, h * bw)"))
      .groupBy(col("bucket_id"), col("bw"), col("bh"))
      .agg(
        count(lit(1)).as("n_images"),
        expr("sum(waste_ppm) div count(1)").as("mean_waste_ppm"),
        max(col("waste_ppm")).as("max_waste_ppm"))
  }

  private val mmAspectBucketsSql =
    """WITH dims AS (SELECT doc_id, (doc_id % 64 + 16) * 16 AS w,
      |    ((doc_id * 7) % 64 + 16) * 16 AS h FROM documents),
      |b(bucket_id, bw, bh) AS (VALUES (1, 512, 2048), (2, 576, 1664), (3, 704, 1408),
      |  (4, 832, 1216), (5, 1024, 1024), (6, 1216, 832), (7, 1408, 704),
      |  (8, 1664, 576), (9, 2048, 512)),
      |scored AS (SELECT doc_id, w, h, bucket_id, bw, bh,
      |    abs(w * bh - h * bw) * 1000000 // (h * bh) AS fit_ppm FROM dims, b),
      |a AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY fit_ppm, bucket_id) AS rn
      |  FROM scored),
      |asg AS (SELECT doc_id, bucket_id, bw, bh,
      |    1000000 - least(w * bh, h * bw) * 1000000 // greatest(w * bh, h * bw) AS waste_ppm
      |  FROM a WHERE rn = 1)
      |SELECT CAST(bucket_id AS BIGINT) AS bucket_id, CAST(bw AS BIGINT) AS bw,
      |  CAST(bh AS BIGINT) AS bh, count(*) AS n_images,
      |  CAST(sum(waste_ppm) // count(*) AS BIGINT) AS mean_waste_ppm,
      |  CAST(max(waste_ppm) AS BIGINT) AS max_waste_ppm
      |FROM asg GROUP BY 1, 2, 3""".stripMargin

  // ------------------------- hard-negative triplet mining (B300)

  /** `sim_hard_negatives` — semi-hard triplet mining for retriever /
    * embedding training: for every anchor with RP-LSH candidates, the
    * POSITIVE is its best candidate (highest cosine) and the HARD
    * NEGATIVE is its best candidate at least 0.05 cosine BELOW the
    * positive — close enough to be informative, far enough to not be a
    * near-duplicate label error. Emits (anchor, positive, negative,
    * margin). B152 measures the candidate generator's recall; this
    * turns the same candidates into training triplets — the mining step
    * between B4's ANN search and a contrastive fine-tune.
    *
    * Scale shape: candidates come from the shared RP-LSH banding
    * (bitsFor-tuned, bounded per-bucket density — never all-pairs);
    * both selections are per-anchor window ranks over the
    * candidate-bounded symmetric pair list; the negative's relative
    * threshold joins pos back on the anchor key (same partitioning, no
    * extra exchange under AQE).
    */
  private def simHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val pairs = operators.Similarity.randomHyperplanePairs(
      emb, "vec_id", "embedding", tau = 0.0,
      bitsPerBand = operators.Similarity.bitsFor(emb.count()))
    // candidate-bounded; persisted because BOTH selections (and the
    // negative's join back) consume it — unpersisted, the whole LSH
    // banding pipeline re-evaluated per consumer (7.9×/decade in the
    // sf1 probe; Bench's per-query storage cleanup releases the blocks)
    val sym = pairs
      .select(col("id_a").as("src"), col("id_b").as("nbr"), col("cosine"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("nbr"), col("cosine")))
      .persist()
    val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("nbr"))
    val pos = sym
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("src").as("vec_id"), col("nbr").as("pos_id"), col("cosine").as("pos_cos"))
    val neg = sym
      .join(pos, sym("src") === pos("vec_id"))
      .filter(col("cosine") <= col("pos_cos") - 0.05)
      .select(col("src"), col("nbr"), col("cosine"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("src").as("vec_id"), col("nbr").as("neg_id"), col("cosine").as("neg_cos"))
    pos
      .join(neg, Seq("vec_id"))
      .select(
        col("vec_id"), col("pos_id"), col("pos_cos"), col("neg_id"), col("neg_cos"),
        expr("CAST(round((pos_cos - neg_cos) * 1000000, 0) AS BIGINT)").as("margin_ppm"))
  }

  private val simHardNegativesSql =
    s"""WITH ${QueriesExt10.rpCandPairsSql("0.0")},
       |sym AS (SELECT id_a AS src, id_b AS nbr, cosine FROM pairs
       |        UNION ALL SELECT id_b, id_a, cosine FROM pairs),
       |pos AS (SELECT src AS vec_id, nbr AS pos_id, cosine AS pos_cos FROM (
       |    SELECT src, nbr, cosine,
       |      row_number() OVER (PARTITION BY src ORDER BY cosine DESC, nbr) AS rn FROM sym)
       |  WHERE rn = 1),
       |negc AS (SELECT s.src, s.nbr, s.cosine FROM sym s JOIN pos p ON s.src = p.vec_id
       |  WHERE s.cosine <= p.pos_cos - 0.05),
       |neg AS (SELECT src AS vec_id, nbr AS neg_id, cosine AS neg_cos FROM (
       |    SELECT src, nbr, cosine,
       |      row_number() OVER (PARTITION BY src ORDER BY cosine DESC, nbr) AS rn FROM negc)
       |  WHERE rn = 1)
       |SELECT p.vec_id, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
       |  CAST(round((p.pos_cos - n.neg_cos) * 1000000, 0) AS BIGINT) AS margin_ppm
       |FROM pos p JOIN neg n USING (vec_id)""".stripMargin

  // ------------------------- always-valid sequential A/B (B301)

  /** `events_ab_sequential` — the mixture sequential probability ratio
    * test (mSPRT, Johari et al., public): B82's Welch test is only valid
    * at ONE pre-registered look, but every live dashboard peeks daily —
    * this emits the always-valid p-value that stays correct under
    * continuous monitoring. Per day, cumulative moments per arm
    * (user-hash bucketed, B82's assignment) give Δ̄ and its variance V;
    * Λ = √(V/(V+τ²))·exp(Δ̄²τ²/(2V(V+τ²))) with mixing variance
    * τ² = 0.05, p_day = min(1, 1/Λ) computed in the non-overflowing
    * form √((V+τ²)/V)·exp(−Δ̄²τ²/(2V(V+τ²))), and p_seq is the running
    * minimum — monotone, so "significant since day d" is stable.
    * B246 sizes the experiment up front; this prices stopping it early.
    *
    * Determinism: daily moments are exact DECIMAL/BIGINT sums; the
    * double formula runs once per DAY row (day-bounded, not row-
    * bounded) and is round-6-snapped before the running min.
    *
    * Scale shape: one map-side (day)-keyed agg over the purchase slice
    * (conditional per-arm sums — arms never shuffle separately), then
    * windows over the day-bounded cumulative table only.
    */
  private def eventsAbSequential(s: SparkSession, dir: String): DataFrame = {
    val v = col("value").cast("decimal(18,2)")
    val daily = events(s, dir)
      .where(col("event_type") === "purchase")
      .select(
        expr("unix_millis(ts) div 86400000").as("day"),
        (graft.functions.Hashing.h32(col("user_id").cast("string")) % 2).as("bucket"),
        v.as("v"))
      .groupBy(col("day"))
      .agg(
        sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("bucket") === 0, col("v"))).as("sv_a"),
        sum(when(col("bucket") === 0, col("v") * col("v"))).as("svv_a"),
        sum(when(col("bucket") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("bucket") === 1, col("v"))).as("sv_b"),
        sum(when(col("bucket") === 1, col("v") * col("v"))).as("svv_b"))
    val wd = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.select(
      col("day"),
      sum(col("n_a")).over(wd).as("cna"),
      sum(col("sv_a")).over(wd).as("csva"),
      sum(col("svv_a")).over(wd).as("csvva"),
      sum(col("n_b")).over(wd).as("cnb"),
      sum(col("sv_b")).over(wd).as("csvb"),
      sum(col("svv_b")).over(wd).as("csvvb"))
    val pDay = cum
      .filter(col("cna") > 1 && col("cnb") > 1)
      .withColumn("delta", expr(
        "round(CAST(csvb AS DOUBLE) / cnb - CAST(csva AS DOUBLE) / cna, 6)"))
      .withColumn("vv", expr(
        "(CAST(csvva AS DOUBLE) - CAST(csva AS DOUBLE) * CAST(csva AS DOUBLE) / cna) / (cna - 1) / cna" +
          " + (CAST(csvvb AS DOUBLE) - CAST(csvb AS DOUBLE) * CAST(csvb AS DOUBLE) / cnb) / (cnb - 1) / cnb"))
      .withColumn("p_day", expr(
        "CASE WHEN vv <= 0 THEN 1.0 ELSE round(least(1.0, sqrt((vv + 0.05) / vv) * " +
          "exp(-((CAST(csvb AS DOUBLE) / cnb - CAST(csva AS DOUBLE) / cna) * " +
          "(CAST(csvb AS DOUBLE) / cnb - CAST(csva AS DOUBLE) / cna) * 0.05) / " +
          "(2 * vv * (vv + 0.05)))), 6) END"))
    val wmin = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pDay
      .withColumn("p_seq", min(col("p_day")).over(wmin))
      .select(
        (col("day") * 86400000).as("day_ms"),
        col("cna").as("n_a"), col("cnb").as("n_b"),
        col("delta"), col("p_day"), col("p_seq"),
        (col("p_seq") < 0.05).as("significant"))
  }

  private val eventsAbSequentialSql =
    """WITH daily AS (SELECT epoch_ms(ts) // 86400000 AS day,
      |    sum(CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
      |    sum(CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) END) AS sv_a,
      |    sum(CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0 THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS svv_a,
      |    sum(CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END) AS n_b,
      |    sum(CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 1 THEN CAST(value AS DECIMAL(18,2)) END) AS sv_b,
      |    sum(CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 1 THEN CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) END) AS svv_b
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |cum AS (SELECT day,
      |    CAST(sum(n_a) OVER w AS BIGINT) AS cna, sum(sv_a) OVER w AS csva, sum(svv_a) OVER w AS csvva,
      |    CAST(sum(n_b) OVER w AS BIGINT) AS cnb, sum(sv_b) OVER w AS csvb, sum(svv_b) OVER w AS csvvb
      |  FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |pd AS (SELECT day, cna, cnb,
      |    round(CAST(csvb AS DOUBLE) / cnb - CAST(csva AS DOUBLE) / cna, 6) AS delta,
      |    (CAST(csvva AS DOUBLE) - CAST(csva AS DOUBLE) * CAST(csva AS DOUBLE) / cna) / (cna - 1) / cna
      |      + (CAST(csvvb AS DOUBLE) - CAST(csvb AS DOUBLE) * CAST(csvb AS DOUBLE) / cnb) / (cnb - 1) / cnb AS vv,
      |    CAST(csvb AS DOUBLE) / cnb - CAST(csva AS DOUBLE) / cna AS d_raw
      |  FROM cum WHERE cna > 1 AND cnb > 1),
      |pp AS (SELECT day, cna, cnb, delta,
      |    CASE WHEN vv <= 0 THEN 1.0 ELSE round(least(1.0, sqrt((vv + 0.05) / vv) *
      |      exp(-(d_raw * d_raw * 0.05) / (2 * vv * (vv + 0.05)))), 6) END AS p_day
      |  FROM pd)
      |SELECT day * 86400000 AS day_ms, cna AS n_a, cnb AS n_b, delta, p_day,
      |  min(p_day) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_seq,
      |  min(p_day) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) < 0.05 AS significant
      |FROM pp""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_dsir_weights", Seq("B298"), textDsirWeights, textDsirWeightsSql),
    QuerySpec("mm_aspect_buckets", Seq("B299"), mmAspectBuckets, mmAspectBucketsSql),
    QuerySpec("sim_hard_negatives", Seq("B300"), simHardNegatives, simHardNegativesSql),
    QuerySpec("events_ab_sequential", Seq("B301"), eventsAbSequential, eventsAbSequentialSql)
  )
}
