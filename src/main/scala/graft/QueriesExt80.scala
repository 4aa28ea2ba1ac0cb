package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-12 additions, batch 54 (B288–B292): time-sliced SRM monitoring,
  * alert flap-rate audit, the token coverage curve behind tokenizer
  * sizing, a planted-truth exact-duplicate embedding audit, and the
  * substring canary contamination scan.
  */
object QueriesExt80 {

  // --------------------------- SRM over time (B288)

  /** `events_srm_timeline` — sample-ratio-mismatch per DAY for the B82
    * hash split (h32(user)%2): the 2-cell χ² reduces to
    * (nA−nB)²/(nA+nB), exact in integer milli, flagged past the 95%
    * bound 3.841. B91 tests the corpus-level ratio once; assignment
    * bugs in real ramps are TIME-LOCAL (a bad deploy window skews three
    * days and dilutes to invisibility in the aggregate) — this is the
    * per-day monitor that catches them.
    *
    * Scale shape: one (day) map-side conditional count; day-bounded
    * output; the split is the scan-fused md5 expression (no sampling
    * shuffle).
    */
  private def eventsSrmTimeline(s: SparkSession, dir: String): DataFrame = {
    events(s, dir)
      .select(
        expr("unix_millis(ts) div 86400000").as("day"),
        (graft.functions.Hashing.h32(col("user_id").cast("string")) % 2).as("bucket"))
      .groupBy(col("day"))
      .agg(
        sum(when(col("bucket") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("bucket") === 1, 1L).otherwise(0L)).as("n_b"))
      .select(
        col("day"), col("n_a"), col("n_b"),
        expr("(n_a - n_b) * (n_a - n_b) * 1000 div (n_a + n_b)").as("chi2_milli"))
      .withColumn("srm_flag", (col("chi2_milli") > 3841L).cast("long"))
  }

  private val eventsSrmTimelineSql =
    """WITH b AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day,
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS bucket
      |  FROM events),
      |d AS (
      |  SELECT day,
      |    CAST(sum(CASE WHEN bucket = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN bucket = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM b GROUP BY 1)
      |SELECT day, n_a, n_b,
      |  CAST((n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b) AS BIGINT) AS chi2_milli,
      |  CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 1000 // (n_a + n_b) > 3841
      |       THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
      |FROM d""".stripMargin

  // --------------------------- alert flap rate (B289)

  /** `events_flap_rate` — alert-flapping audit: with the alert condition
    * `value > 50`, count per event type how often a user's condition
    * STATE flips between consecutive events (ts, event_id order). A
    * high flap rate means the threshold sits in the signal's noise band
    * and the alert needs hysteresis/debounce (B72) — this table is how
    * you choose WHICH alerts get it.
    *
    * Scale shape: one per-user lag window (keyed shuffle); per-type agg;
    * type-bounded output.
    */
  private def eventsFlapRate(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ms"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_millis(ts)").as("ms"),
        (col("value") > 50.0).cast("long").as("state"))
      .withColumn("flip",
        when(lag(col("state"), 1).over(w).isNotNull &&
          lag(col("state"), 1).over(w) =!= col("state"), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("flip")).as("n_flips"),
        expr("sum(flip) * 1000000 div count(1)").as("flip_ppm"),
        countDistinct(col("user_id")).as("n_users"),
        expr("sum(flip) * 1000 div count(DISTINCT user_id)").as("flips_per_user_milli"))
  }

  private val eventsFlapRateSql =
    """WITH x AS (
      |  SELECT user_id, event_type,
      |    CASE WHEN value > 50 THEN 1 ELSE 0 END AS state,
      |    lag(CASE WHEN value > 50 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id, event_type ORDER BY epoch_ms(ts), event_id) AS prev
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_type,
      |    CASE WHEN prev IS NOT NULL AND prev != state THEN 1 ELSE 0 END AS flip
      |  FROM x)
      |SELECT event_type, count(*) AS n_rows,
      |  CAST(sum(flip) AS BIGINT) AS n_flips,
      |  CAST(sum(flip) * 1000000 // count(*) AS BIGINT) AS flip_ppm,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(sum(flip) * 1000 // count(DISTINCT user_id) AS BIGINT) AS flips_per_user_milli
      |FROM f GROUP BY 1""".stripMargin

  // --------------------------- token coverage curve (B290)

  /** `text_ngram_coverage_curve` — what fraction of all corpus tokens do
    * the top-K vocabulary words cover, for K ∈ {1,2,4,…,128}: the curve
    * that sizes a tokenizer vocabulary (BPE merges until the tail is
    * cheap) and prices OOV handling. Zipf (B147) fits the slope; this is
    * the operational integral of it.
    *
    * Scale shape: token explode → word map-side count; ranking and the
    * 8-literal K sweep run on the VOCABULARY table (word-type-bounded,
    * Heaps' law), never the corpus.
    */
  private def textNgramCoverageCurve(s: SparkSession, dir: String): DataFrame = {
    val freq = documents(s, dir)
      .select(expr("explode(split(regexp_replace(lower(text), '\\\\s+', ' '), ' '))").as("w"))
      .where(length(col("w")) >= 1)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("c"))
    val ranked = freq
      .withColumn("rk", row_number().over(Window.orderBy(col("c").desc, col("w"))))
      .withColumn("total", sum(col("c")).over(Window.partitionBy()))
    val ks = s.range(1).selectExpr("explode(array(1L,2L,4L,8L,16L,32L,64L,128L)) AS k")
    ranked
      .join(broadcast(ks), col("rk") <= col("k"))
      .groupBy(col("k"))
      .agg(
        max(col("rk")).as("vocab_used"),
        sum(col("c")).as("cum_tokens"),
        expr("sum(c) * 1000000 div first(total)").as("coverage_ppm"))
  }

  private val textNgramCoverageCurveSql =
    """WITH w AS (
      |  SELECT unnest(string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ')) AS w
      |  FROM documents),
      |freq AS (SELECT w, count(*) AS c FROM w WHERE len(w) >= 1 GROUP BY 1),
      |ranked AS (
      |  SELECT w, c,
      |    row_number() OVER (ORDER BY c DESC, w) AS rk,
      |    sum(c) OVER () AS total
      |  FROM freq)
      |SELECT k, max(rk) AS vocab_used,
      |  CAST(sum(c) AS BIGINT) AS cum_tokens,
      |  CAST(sum(c) * 1000000 // any_value(total) AS BIGINT) AS coverage_ppm
      |FROM ranked, (SELECT unnest([1,2,4,8,16,32,64,128]) AS k)
      |WHERE rk <= k
      |GROUP BY 1""".stripMargin

  // --------------------------- exact-duplicate embedding audit (B291)

  /** `embed_exact_dup` — bit-identical embedding vectors are the
    * cheapest dedup signal an embedding store has (re-ingested shards,
    * retried writers, default-vector bugs) and the first thing to sweep
    * before any ANN build: grouping BY THE VECTOR ITSELF costs one
    * hash-agg, no LSH. Planted truth (B269's pattern): every 50th
    * vector is staged as a copy under a fresh id, so the expected group
    * count is exact and the detector's output is certified, not
    * vacuously zero on the duplicate-free fixture.
    *
    * Scale shape: one hash-agg keyed on the vector value (Spark hashes
    * arrays natively — map-side combine applies); 1-row output.
    */
  private def embedExactDup(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val mx  = emb.agg(max(col("vec_id")).as("mx"))
    val planted = emb
      .where(col("vec_id") % 50 === 0)
      .crossJoin(broadcast(mx))
      .select((col("vec_id") + col("mx") + 1).as("vec_id"), col("embedding"))
    val staged = emb.unionByName(planted)
    val groups = staged.groupBy(col("embedding")).agg(count(lit(1)).as("c"))
    groups.agg(
      sum(col("c")).as("n_vecs"),
      count(lit(1)).as("n_distinct_vecs"),
      sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
      sum(when(col("c") > 1, col("c") - 1).otherwise(0L)).as("n_redundant_rows"),
      max(col("c")).as("max_group_size"))
  }

  private val embedExactDupSql =
    """WITH mx AS (SELECT max(vec_id) AS mx FROM embeddings),
      |staged AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT e.vec_id + mx.mx + 1, e.embedding FROM embeddings e, mx
      |  WHERE e.vec_id % 50 = 0),
      |g AS (SELECT embedding, count(*) AS c FROM staged GROUP BY 1)
      |SELECT CAST(sum(c) AS BIGINT) AS n_vecs,
      |  count(*) AS n_distinct_vecs,
      |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
      |  CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT) AS n_redundant_rows,
      |  max(c) AS max_group_size
      |FROM g""".stripMargin

  // --------------------------- canary contamination scan (B292)

  /** `text_canary_contamination` — the cheap first pass of eval-set
    * decontamination: exact substring scan for known canary strings
    * (eval snippets, GUID canaries, honeypot markers) before the n-gram
    * machinery (B17) runs. Three canaries drawn from the fixture's
    * template vocabulary plus one guaranteed-absent GUID-style marker —
    * the honest zero that proves the scan isn't matching everything.
    *
    * Scale shape: the 4-literal canary grid crossed over one normalized
    * scan; contains() is scan-fused; canary-bounded output.
    */
  private def textCanaryContamination(s: SparkSession, dir: String): DataFrame = {
    val canaries = s.range(1).selectExpr(
      "explode(array('spark window', 'batch stream', 'merge part', " +
        "'canary-9f1e-deadbeef')) AS canary")
    documents(s, dir)
      .select(expr("regexp_replace(lower(text), '\\\\s+', ' ')").as("nrm"))
      .crossJoin(broadcast(canaries))
      .groupBy(col("canary"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(expr("CAST(contains(nrm, canary) AS BIGINT)")).as("n_contaminated"),
        expr("sum(CAST(contains(nrm, canary) AS BIGINT)) * 1000000 div count(1)")
          .as("contaminated_ppm"))
  }

  private val textCanaryContaminationSql =
    """WITH d AS (
      |  SELECT regexp_replace(lower(text), '\s+', ' ', 'g') AS nrm FROM documents),
      |c AS (SELECT unnest(['spark window', 'batch stream', 'merge part',
      |                     'canary-9f1e-deadbeef']) AS canary)
      |SELECT canary, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN contains(nrm, canary) THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
      |  CAST(sum(CASE WHEN contains(nrm, canary) THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
      |    AS contaminated_ppm
      |FROM d, c GROUP BY 1""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_srm_timeline", Seq("B288"), eventsSrmTimeline, eventsSrmTimelineSql),
    QuerySpec("events_flap_rate", Seq("B289"), eventsFlapRate, eventsFlapRateSql),
    QuerySpec("text_ngram_coverage_curve", Seq("B290"), textNgramCoverageCurve, textNgramCoverageCurveSql),
    QuerySpec("embed_exact_dup", Seq("B291"), embedExactDup, embedExactDupSql),
    QuerySpec("text_canary_contamination", Seq("B292"), textCanaryContamination, textCanaryContaminationSql)
  )
}
