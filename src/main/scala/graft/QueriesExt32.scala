package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-9 additions, batch 26: the split/sampling mechanics a training-
  * data pipeline runs after curation — a leakage-safe train/val/test
  * split (near-dup clusters move as a unit), a temperature-smoothed
  * source-mixture plan, the dedup-rate-vs-threshold curve that calibrates
  * the LSH cutoff, an equi-width histogram for optimizer stats, funnel
  * inter-stage latency order statistics, and a char-trigram entropy gate.
  */
object QueriesExt32 {

  // --------------------------- leakage-safe corpus split (B178)

  /** Train/val/test split where a near-dup CLUSTER is the unit of
    * assignment: doc-level hash splits leak — two near-identical docs
    * land in train and test and the eval set is contaminated (the exact
    * failure B17's decontamination checks for AFTER the fact). Pairs →
    * connected components as B3; every doc outside any pair is its own
    * singleton cluster; the split is h32("split:<cluster_id>") % 10 →
    * 0–7 train / 8 val / 9 test, a pure function of the cluster label, so
    * any re-run or incremental refresh re-derives the same assignment.
    * Output is the per-split audit row (docs, clusters, chars).
    *
    * Scale shape: pairs/components as B3 (banded LSH, never all-pairs);
    * the split column is one scan-fused hash over the labels table and
    * the audit is a 3-row hash-agg. No stage holds more than the
    * pair-member label table beyond the corpus scan itself.
    */
  private def corpusSplitLeakageSafe(s: SparkSession, dir: String): DataFrame = {
    val docs   = documents(s, dir)
    val pairs  = operators.Dedup.minhashPairs(docs, "doc_id", "text", 3, 0.5)
    val labels = operators.Dedup
      .connectedComponents(pairs)
      .withColumnRenamed("id", "doc_id")
    docs
      .select(col("doc_id"), col("n_chars"))
      .join(labels, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_chars"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id")
      )
      .withColumn(
        "bucket",
        graft.functions.Hashing.h32(concat(lit("split:"), col("cluster_id"))) % 10
      )
      .withColumn(
        "split",
        when(col("bucket") <= 7, lit("train"))
          .when(col("bucket") === 8, lit("val"))
          .otherwise(lit("test"))
      )
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(col("n_chars")).as("n_chars")
      )
  }

  private val corpusSplitLeakageSafeSql =
    s"""WITH RECURSIVE mh AS (${QueriesExt.minhashPairsSql}),
       |edges AS (SELECT id_a AS a, id_b AS b FROM mh UNION SELECT id_b, id_a FROM mh),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach(src, dst) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |labels AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src),
       |full_l AS (
       |  SELECT d.doc_id, d.n_chars, coalesce(l.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
       |sp AS (
       |  SELECT *, CAST('0x' || substr(md5('split:' || cluster_id), 1, 8) AS BIGINT) % 10 AS bucket
       |  FROM full_l)
       |SELECT CASE WHEN bucket <= 7 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
       |  count(*) AS n_docs, count(DISTINCT cluster_id) AS n_clusters,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars
       |FROM sp GROUP BY 1""".stripMargin

  // --------------------------- temperature-smoothed mixture (B179)

  /** Multilingual-style temperature sampling plan: source weights
    * ∝ tokens^α with α = 0.5 — the up-weight-the-tail mix (uniform at
    * α=0, proportional at α=1) used to keep small sources represented.
    * Weights are snapped to exact integers before any sum (w =
    * floor(sqrt(tokens)·1e6); sqrt is IEEE-correctly-rounded in both
    * engines, so the snap is bit-identical) and a 10 000-doc budget is
    * allocated by largest remainder (ties by source asc) so the
    * allocation sums exactly to the budget.
    *
    * Scale shape: one tokenize+count scan; everything after is a
    * sources-sized table (the window is over that table, not the corpus).
    */
  private def corpusTemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val budget = 10000L
    val perSource = documents(s, dir)
      .select(col("source"), size(operators.TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("tokens"))
      .withColumn("w", floor(sqrt(col("tokens").cast("double")) * 1e6).cast("long"))
    val sized = perSource
      .crossJoin(broadcast(perSource.agg(sum(col("w")).as("wsum"))))
      .select(
        col("source"),
        col("tokens"),
        expr("CAST(w * 1000000 div wsum AS BIGINT)").as("weight_ppm"),
        expr(s"CAST($budget * w div wsum AS BIGINT)").as("base"),
        expr(s"CAST($budget * w % wsum AS BIGINT)").as("rem")
      )
    val leftover = sized
      .agg((lit(budget) - sum(col("base"))).as("leftover"))
    sized
      .withColumn("rn", row_number().over(Window.orderBy(col("rem").desc, col("source").asc)))
      .crossJoin(broadcast(leftover))
      .select(
        col("source"),
        col("tokens"),
        col("weight_ppm"),
        (col("base") + when(col("rn") <= col("leftover"), 1L).otherwise(0L)).as("alloc_docs")
      )
  }

  private val corpusTemperatureMixSql =
    """WITH per_source AS (
      |  SELECT source,
      |    CAST(sum(len(string_split(regexp_replace(lower(trim(text)),'\s+',' ','g'), ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |w AS (SELECT source, tokens, CAST(floor(sqrt(tokens::DOUBLE) * 1e6) AS BIGINT) AS w FROM per_source),
      |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM w),
      |sized AS (
      |  SELECT source, tokens,
      |    CAST(w * 1000000 // wsum AS BIGINT) AS weight_ppm,
      |    CAST(10000 * w // wsum AS BIGINT) AS base,
      |    CAST(10000 * w % wsum AS BIGINT) AS rem
      |  FROM w CROSS JOIN tot),
      |lo AS (SELECT 10000 - CAST(sum(base) AS BIGINT) AS leftover FROM sized),
      |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rn FROM sized)
      |SELECT source, tokens, weight_ppm,
      |  base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS alloc_docs
      |FROM rk CROSS JOIN lo""".stripMargin

  // --------------------------- dedup threshold sweep (B180)

  /** The dedup-rate curve: duplicate-pair and touched-document counts at
    * τ ∈ {0.5 … 0.9}, all read off ONE banded-LSH + exact-Jaccard pass at
    * the loosest threshold — the calibration table an operator consults
    * before committing a corpus to a cutoff (how much does tightening τ
    * by 0.1 actually save?). Thresholds compare against `thr/1000.0`
    * (exactly representable division in both engines), never
    * `jaccard*1000` (0.6·1000 = 599.999… in binary).
    *
    * Scale shape: one B3 pipeline; the sweep is a 5× explode of the
    * (small) verified pair list, nothing corpus-sized downstream.
    */
  private def dedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val pairs = operators.Dedup
      .minhashPairs(documents(s, dir), "doc_id", "text", 3, 0.5)
      .localCheckpoint(true)
    val swept = pairs
      .withColumn("threshold_milli", explode(array(Seq(500L, 600L, 700L, 800L, 900L).map(lit): _*)))
      .filter(col("jaccard") >= col("threshold_milli") / 1000.0)
    val nPairs = swept
      .groupBy(col("threshold_milli"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = swept
      .select(col("threshold_milli"), explode(array(col("id_a"), col("id_b"))).as("d"))
      .distinct()
      .groupBy(col("threshold_milli"))
      .agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, Seq("threshold_milli"))
  }

  private val dedupThresholdSweepSql =
    s"""WITH mh AS (${QueriesExt.minhashPairsSql}),
       |sw AS (
       |  SELECT t.thr AS threshold_milli, mh.id_a, mh.id_b
       |  FROM mh, (VALUES (500), (600), (700), (800), (900)) AS t(thr)
       |  WHERE mh.jaccard >= t.thr / 1000.0),
       |np AS (SELECT threshold_milli, count(*) AS n_pairs FROM sw GROUP BY 1),
       |nd AS (
       |  SELECT threshold_milli, count(*) AS n_docs FROM (
       |    SELECT DISTINCT threshold_milli, d FROM (
       |      SELECT threshold_milli, id_a AS d FROM sw
       |      UNION ALL SELECT threshold_milli, id_b FROM sw))
       |  GROUP BY 1)
       |SELECT CAST(np.threshold_milli AS BIGINT) AS threshold_milli, np.n_pairs, nd.n_docs
       |FROM np JOIN nd USING (threshold_milli)""".stripMargin

  // --------------------------- equi-width histogram (B181)

  /** Optimizer-stats equi-width histogram: 16 bins over order totals in
    * exact integer cents (min/max from a 1-row agg broadcast back; bin =
    * (cents−min)·16 div span — pure integer arithmetic, no float edge
    * ambiguity). Emits per-bin row count plus the actual min/max landing
    * in the bin — the selectivity table a cost-based planner reads.
    *
    * Scale shape: two scans of the fact column (bounds, then binning) with
    * the 1-row bounds broadcast; the result is 16 rows. At 100 TB the
    * bounds pass rides an existing scan or comes from file-footer stats.
    */
  private def qHistogram(s: SparkSession, dir: String): DataFrame = {
    val cents = orders(s, dir)
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
    val bounds = cents.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    cents
      .crossJoin(broadcast(bounds))
      .select(
        expr("CAST(least(15, (cents - mn) * 16 div (mx - mn + 1)) AS BIGINT)").as("bin"),
        col("cents")
      )
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents")
      )
  }

  private val qHistogramSql =
    """WITH cents AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM cents)
      |SELECT CAST(least(15, (cents - mn) * 16 // (mx - mn + 1)) AS BIGINT) AS bin,
      |  count(*) AS n_orders,
      |  min(cents) AS min_cents, max(cents) AS max_cents
      |FROM cents CROSS JOIN b
      |GROUP BY 1""".stripMargin

  // --------------------------- funnel inter-stage latency (B182)

  /** How long the funnel takes, not just whether it completes (B7's
    * events_funnel): per user, the first view, the first click AFTER that
    * view, and the first purchase after that click; per stage, the exact
    * discrete median and p90 of the latency at second resolution. Order
    * statistics are computed by cumulative counts over the BUCKETED
    * (stage, seconds) table — never a per-user sort — so the window's
    * partition size is bounded by distinct latency seconds, not users.
    */
  private def eventsFunnelTime(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    val v = ev
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ms"))).as("v_ms"))
      .where(col("v_ms").isNotNull)
    val c = ev
      .join(v, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(
        first(col("v_ms")).as("v_ms"),
        min(when(col("event_type") === "click" && col("ms") > col("v_ms"), col("ms"))).as("c_ms")
      )
      .where(col("c_ms").isNotNull)
    val p = ev
      .join(c, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(
        first(col("v_ms")).as("v_ms"),
        first(col("c_ms")).as("c_ms"),
        min(when(col("event_type") === "purchase" && col("ms") > col("c_ms"), col("ms"))).as("p_ms")
      )
    val lats = c
      .select(lit("view_to_click").as("stage"), expr("CAST((c_ms - v_ms) div 1000 AS BIGINT)").as("lat_s"))
      .unionByName(
        p.where(col("p_ms").isNotNull)
          .select(lit("click_to_purchase").as("stage"), expr("CAST((p_ms - c_ms) div 1000 AS BIGINT)").as("lat_s"))
      )
    val bucketed = lats.groupBy(col("stage"), col("lat_s")).agg(count(lit(1)).as("cnt"))
    val cum = bucketed
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("stage")).orderBy(col("lat_s"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("stage"))))
    cum
      .groupBy(col("stage"))
      .agg(
        first(col("n")).as("n_users"),
        min(when(col("cum") * 2 >= col("n") + 1, col("lat_s"))).as("median_s"),
        min(when(col("cum") * 10 >= col("n") * 9, col("lat_s"))).as("p90_s")
      )
  }

  private val eventsFunnelTimeSql =
    """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |v AS (
      |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ms END) AS v_ms
      |  FROM ev GROUP BY 1 HAVING v_ms IS NOT NULL),
      |c AS (
      |  SELECT e.user_id, any_value(v.v_ms) AS v_ms,
      |    min(CASE WHEN e.event_type = 'click' AND e.ms > v.v_ms THEN e.ms END) AS c_ms
      |  FROM ev e JOIN v ON e.user_id = v.user_id GROUP BY 1 HAVING c_ms IS NOT NULL),
      |p AS (
      |  SELECT e.user_id, any_value(c.v_ms) AS v_ms, any_value(c.c_ms) AS c_ms,
      |    min(CASE WHEN e.event_type = 'purchase' AND e.ms > c.c_ms THEN e.ms END) AS p_ms
      |  FROM ev e JOIN c ON e.user_id = c.user_id GROUP BY 1),
      |lats AS (
      |  SELECT 'view_to_click' AS stage, (c_ms - v_ms) // 1000 AS lat_s FROM c
      |  UNION ALL
      |  SELECT 'click_to_purchase', (p_ms - c_ms) // 1000 FROM p WHERE p_ms IS NOT NULL),
      |bk AS (SELECT stage, lat_s, count(*) AS cnt FROM lats GROUP BY 1, 2),
      |cw AS (
      |  SELECT stage, lat_s, cnt,
      |    sum(cnt) OVER (PARTITION BY stage ORDER BY lat_s
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cnt) OVER (PARTITION BY stage) AS n
      |  FROM bk)
      |SELECT stage, CAST(any_value(n) AS BIGINT) AS n_users,
      |  min(CASE WHEN cum * 2 >= n + 1 THEN lat_s END) AS median_s,
      |  min(CASE WHEN cum * 10 >= n * 9 THEN lat_s END) AS p90_s
      |FROM cw GROUP BY 1""".stripMargin

  // --------------------------- char-trigram entropy gate (B184)

  /** Gibberish/boilerplate gate: per-source Shannon entropy of the
    * character-trigram distribution. Low entropy = repetitive template
    * text; suspiciously high = random bytes — both are curation rejects
    * that length/stopword checks (B5) miss. IEEE determinism follows
    * B22's snap pattern: per-trigram ln(count) is rounded to 6 dp and
    * snapped to integer micro-nats BEFORE any aggregation, so every sum
    * is exact BIGINT and H = ln(N) − Σ c·ln(c)/N replays bit-identically
    * (no float sum ordering anywhere).
    *
    * Scale shape: one explode + (source, trigram) hash-agg (map-side
    * combined), then a sources-sized rollup.
    */
  private def textCharEntropy(s: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    // r15: one-pass CharNGrams instead of transform(sequence)+substring —
    // per-position substring re-scans the UTF-8 buffer from the start
    // (O(len²) byte scans per doc); see functions/CharNGrams.scala
    val tris = documents(s, dir)
      .select(col("source"), norm.as("norm"))
      .where(length(col("norm")) >= 3)
      .select(
        col("source"),
        explode(graft.functions.CharNGrams.charNGrams(col("norm"), 3)).as("tg")
      )
    val counts = tris.groupBy(col("source"), col("tg")).agg(count(lit(1)).as("c"))
    counts
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_trigrams"),
        count(lit(1)).as("distinct_trigrams"),
        sum(col("c") * expr("CAST(round(round(ln(CAST(c AS DOUBLE)), 6) * 1000000, 0) AS BIGINT)")).as("s_micro")
      )
      .select(
        col("source"),
        col("n_trigrams"),
        col("distinct_trigrams"),
        (expr("CAST(round(round(ln(CAST(n_trigrams AS DOUBLE)), 6) * 1000000, 0) AS BIGINT)")
          - expr("s_micro div n_trigrams")).as("entropy_micronats")
      )
  }

  private val textCharEntropySql =
    """WITH nrm AS (
      |  SELECT source, regexp_replace(lower(trim(text)),'\s+',' ','g') AS norm FROM documents),
      |tg AS (
      |  SELECT source, unnest([norm[i:i+2] for i in range(1, len(norm)-1)]) AS tg
      |  FROM nrm WHERE len(norm) >= 3),
      |cnt AS (SELECT source, tg, count(*) AS c FROM tg GROUP BY 1, 2),
      |agg AS (
      |  SELECT source,
      |    CAST(sum(c) AS BIGINT) AS n_trigrams,
      |    count(*) AS distinct_trigrams,
      |    CAST(sum(c * CAST(round(round(ln(c::DOUBLE), 6) * 1000000) AS BIGINT)) AS BIGINT) AS s_micro
      |  FROM cnt GROUP BY 1)
      |SELECT source, n_trigrams, distinct_trigrams,
      |  CAST(round(round(ln(n_trigrams::DOUBLE), 6) * 1000000) AS BIGINT) - s_micro // n_trigrams
      |    AS entropy_micronats
      |FROM agg""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("corpus_split_leakage_safe", Seq("B178"), corpusSplitLeakageSafe, corpusSplitLeakageSafeSql),
    QuerySpec("corpus_temperature_mix", Seq("B179"), corpusTemperatureMix, corpusTemperatureMixSql),
    QuerySpec("dedup_threshold_sweep", Seq("B180"), dedupThresholdSweep, dedupThresholdSweepSql),
    QuerySpec("q_histogram", Seq("B181"), qHistogram, qHistogramSql),
    QuerySpec("events_funnel_time", Seq("B182"), eventsFunnelTime, eventsFunnelTimeSql),
    QuerySpec("text_char_entropy", Seq("B184"), textCharEntropy, textCharEntropySql)
  )
}
