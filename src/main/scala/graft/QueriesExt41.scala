package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 35: CDC payload-schema evolution audit,
  * gap-based session depth histogram, and the per-source token-length
  * histogram that sizes sequence packing.
  */
object QueriesExt41 {

  // --------------------------- CDC payload evolution audit (B205)

  /** Schema-generation audit over a CDC stream whose payload EVOLVED
    * mid-stream: generation 2 envelopes (event_id % 7 == 0) carry an
    * added `region_code` column; generation 1 rows union in with the
    * column null-filled (`unionByName(allowMissingColumns)` — exactly
    * how a lakehouse mergeSchema read presents mixed-generation files).
    * Per (op, schema_rev): envelope count and added-column null count —
    * the table that catches a consumer silently reading nulls where it
    * assumed the new column was always present (gen-1 data NEVER
    * backfills itself). Both sides replay the synthesizer + evolution
    * arithmetic from the events table directly.
    *
    * Scale shape: two scans (one per generation) → union → one
    * (op, rev) map-side-combined count; no shuffle beyond the ≤10-key
    * agg.
    */
  private def cdcPayloadEvolution(s: SparkSession, dir: String): DataFrame = {
    val env = cdc.Envelope.synthesizeFromEvents(events(s, dir))
      .where(col("value").isNotNull && col("value.after").isNotNull)
      .select(
        col("value.op").as("op"),
        col("value.after.id").as("id"),
        col("value.after.user_id").as("user_id")
      )
    val gen1 = env
      .where(col("id") % 7 =!= 0)
      .select(col("op"), lit(1L).as("schema_rev"))
      .withColumn("region_code", lit(null).cast("long"))
    val gen2 = env
      .where(col("id") % 7 === 0)
      .select(col("op"), lit(2L).as("schema_rev"), (col("user_id") % 32).as("region_code"))
    gen1
      .unionByName(gen2, allowMissingColumns = true)
      .groupBy(col("op"), col("schema_rev"))
      .agg(
        count(lit(1)).as("n_envelopes"),
        sum(when(col("region_code").isNull, 1L).otherwise(0L)).as("n_region_null")
      )
  }

  private val cdcPayloadEvolutionSql =
    """WITH kept AS (
      |  SELECT CASE WHEN event_id % 89 = 0 THEN 'd' WHEN event_id % 2 = 0 THEN 'u' ELSE 'c' END AS op,
      |    CASE WHEN event_id % 83 = 0 THEN 0 ELSE event_id END AS id,
      |    user_id
      |  FROM events
      |  WHERE event_id % 97 != 0 AND event_id % 89 != 0),
      |gen AS (
      |  SELECT op,
      |    CASE WHEN id % 7 = 0 THEN 2 ELSE 1 END AS schema_rev,
      |    CASE WHEN id % 7 = 0 THEN user_id % 32 ELSE NULL END AS region_code
      |  FROM kept)
      |SELECT op, CAST(schema_rev AS BIGINT) AS schema_rev,
      |  count(*) AS n_envelopes,
      |  CAST(sum(CASE WHEN region_code IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_region_null
      |FROM gen GROUP BY 1, 2""".stripMargin

  // --------------------------- session depth histogram (B206)

  /** Gap-based sessionization (5-minute inactivity splits) → events per
    * session → binary-magnitude depth histogram: the engagement-shape
    * table (how deep do sessions actually run?) that a raw session
    * count can't show. Session ids come from a per-user cumulative sum
    * over the gap indicator — one partitioned window, never global.
    *
    * Scale shape: two per-user windows (lag + running sum) on the same
    * (user, ts) partitioning, one (user, session) count, then a
    * ≤64-bucket rollup.
    */
  private def eventsSessionDepth(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ms", lag(expr("unix_millis(ts)"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(col("prev_ms").isNull || expr("unix_millis(ts)") - col("prev_ms") > 300000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("depth"))
    sessions
      .groupBy(expr("CAST(length(bin(depth)) AS BIGINT)").as("depth_bucket"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("depth")).as("n_events"),
        max(col("depth")).as("max_depth")
      )
  }

  private val eventsSessionDepthSql =
    """WITH o AS (
      |  SELECT user_id, epoch_ms(ts) AS ms, event_id,
      |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
      |  FROM events),
      |marked AS (
      |  SELECT user_id, ms, event_id,
      |    CASE WHEN prev_ms IS NULL OR ms - prev_ms > 300000 THEN 1 ELSE 0 END AS new_session
      |  FROM o),
      |sess AS (
      |  SELECT user_id,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS session_id
      |  FROM marked),
      |depths AS (SELECT user_id, session_id, count(*) AS depth FROM sess GROUP BY 1, 2)
      |SELECT CAST(length(bin(depth)) AS BIGINT) AS depth_bucket,
      |  count(*) AS n_sessions,
      |  CAST(sum(depth) AS BIGINT) AS n_events,
      |  max(depth) AS max_depth
      |FROM depths GROUP BY 1""".stripMargin

  // --------------------------- token-length histogram (B207)

  /** Per-source token-count histogram in binary-magnitude buckets — the
    * sequence-length shape B24's packing plan consumes: pad waste and
    * pack density are functions of THIS distribution, not of the mean
    * token count (B5 reports means). Token counts use the family's
    * whitespace-normalization convention.
    *
    * Scale shape: token count is scan-fused; one (source, bucket)
    * map-side count bounded by sources × 64.
    */
  private def corpusLengthHistogram(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(
        col("source"),
        size(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")).cast("long").as("n_tokens")
      )
      .groupBy(col("source"), expr("CAST(length(bin(n_tokens)) AS BIGINT)").as("len_bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens")
      )

  private val corpusLengthHistogramSql =
    """WITH t AS (
      |  SELECT source,
      |    CAST(len(string_split(regexp_replace(lower(trim(text)),'\s+',' ','g'), ' ')) AS BIGINT) AS n_tokens
      |  FROM documents)
      |SELECT source, CAST(length(bin(n_tokens)) AS BIGINT) AS len_bucket,
      |  count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  min(n_tokens) AS min_tokens,
      |  max(n_tokens) AS max_tokens
      |FROM t GROUP BY 1, 2""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("cdc_payload_evolution", Seq("B205"), cdcPayloadEvolution, cdcPayloadEvolutionSql),
    QuerySpec("events_session_depth", Seq("B206"), eventsSessionDepth, eventsSessionDepthSql),
    QuerySpec("corpus_length_histogram", Seq("B207"), corpusLengthHistogram, corpusLengthHistogramSql)
  )
}
