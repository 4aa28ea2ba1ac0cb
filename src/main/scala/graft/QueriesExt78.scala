package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-12 additions, batch 52 (B278–B283): the published-rule-set text
  * quality gate (Gopher/MassiveText-style), the discrete-time hazard
  * table behind B245's KM curve, an OCR/garbage text gate, per-user
  * interarrival burstiness (Fano), hourly peak-capacity planning, and a
  * CDC arrival-order (out-of-orderness) audit. All-integer arithmetic
  * except documented final snaps.
  */
object QueriesExt78 {

  // --------------------------- Gopher-style quality rules (B278)

  /** `text_gopher_rules` — the published MassiveText/Gopher quality-filter
    * rule subset computable from text alone (Rae et al. 2021, §A1.1),
    * evaluated per document and reported as per-source pass rates:
    * word count in [50, 100k], mean word length in [3, 10], symbol-to-word
    * ratio ≤ 0.1 ('#' and ellipsis), ≥80% of words contain an alphabetic
    * char, and ≥2 distinct stopwords from the canonical 8-word list.
    * Every ratio test is an INTEGER inequality (3·nw ≤ chars ≤ 10·nw etc.)
    * so both engines compare exactly — no float thresholds.
    *
    * Scale shape: one scan, all rules are row-local expressions fused
    * into it; one (source) hash-agg with map-side combine; output is
    * source-bounded.
    */
  private def textGopherRules(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("source"),
        expr("regexp_replace(lower(text), '\\\\s+', ' ')").as("nrm"))
      .where(length(col("nrm")) >= 1)
      .withColumn("words", split(col("nrm"), " "))
      .withColumn("nw", size(col("words")).cast("long"))
      .withColumn("wchars", (length(col("nrm")) - (col("nw") - 1)).cast("long"))
      .withColumn("nsym",
        (length(col("nrm")) - length(regexp_replace(col("nrm"), "[#…]", ""))).cast("long"))
      .withColumn("nalpha",
        expr("CAST(size(filter(words, w -> " +
          "translate(w, 'abcdefghijklmnopqrstuvwxyz', '') != w)) AS BIGINT)"))
      .withColumn("nstop",
        expr("CAST(size(array_intersect(array_distinct(words), " +
          "array('the','be','to','of','and','that','have','with'))) AS BIGINT)"))
      .select(
        col("source"),
        (col("nw") >= 50 && col("nw") <= 100000).cast("long").as("r_wordcount"),
        (col("wchars") >= col("nw") * 3 && col("wchars") <= col("nw") * 10)
          .cast("long").as("r_wordlen"),
        (col("nsym") * 10 <= col("nw")).cast("long").as("r_symbol"),
        (col("nalpha") * 5 >= col("nw") * 4).cast("long").as("r_alpha"),
        (col("nstop") >= 2).cast("long").as("r_stopword"))
      .withColumn("r_all",
        (col("r_wordcount") * col("r_wordlen") * col("r_symbol") *
          col("r_alpha") * col("r_stopword")).cast("long"))
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("r_wordcount")).as("pass_wordcount"),
        sum(col("r_wordlen")).as("pass_wordlen"),
        sum(col("r_symbol")).as("pass_symbol"),
        sum(col("r_alpha")).as("pass_alpha"),
        sum(col("r_stopword")).as("pass_stopword"),
        sum(col("r_all")).as("pass_all"))
      .withColumn("pass_all_ppm", expr("pass_all * 1000000 div n_docs"))
  }

  private val textGopherRulesSql =
    """WITH d AS (
      |  SELECT source, regexp_replace(lower(text), '\s+', ' ', 'g') AS nrm
      |  FROM documents WHERE len(regexp_replace(lower(text), '\s+', ' ', 'g')) >= 1),
      |f AS (
      |  SELECT source,
      |    string_split(nrm, ' ') AS words,
      |    CAST(len(string_split(nrm, ' ')) AS BIGINT) AS nw,
      |    CAST(len(nrm) - (len(string_split(nrm, ' ')) - 1) AS BIGINT) AS wchars,
      |    CAST(len(nrm) - len(regexp_replace(nrm, '[#…]', '', 'g')) AS BIGINT) AS nsym
      |  FROM d),
      |r AS (
      |  SELECT source,
      |    CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END AS r_wordcount,
      |    CASE WHEN wchars >= nw * 3 AND wchars <= nw * 10 THEN 1 ELSE 0 END AS r_wordlen,
      |    CASE WHEN nsym * 10 <= nw THEN 1 ELSE 0 END AS r_symbol,
      |    CASE WHEN CAST(len([w FOR w IN words IF regexp_matches(w, '[a-z]')]) AS BIGINT) * 5
      |              >= nw * 4 THEN 1 ELSE 0 END AS r_alpha,
      |    CASE WHEN len(list_intersect(list_distinct(words),
      |              ['the','be','to','of','and','that','have','with'])) >= 2
      |         THEN 1 ELSE 0 END AS r_stopword
      |  FROM f)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(r_wordcount) AS BIGINT) AS pass_wordcount,
      |  CAST(sum(r_wordlen) AS BIGINT) AS pass_wordlen,
      |  CAST(sum(r_symbol) AS BIGINT) AS pass_symbol,
      |  CAST(sum(r_alpha) AS BIGINT) AS pass_alpha,
      |  CAST(sum(r_stopword) AS BIGINT) AS pass_stopword,
      |  CAST(sum(r_wordcount * r_wordlen * r_symbol * r_alpha * r_stopword) AS BIGINT) AS pass_all,
      |  CAST(sum(r_wordcount * r_wordlen * r_symbol * r_alpha * r_stopword) * 1000000
      |       // count(*) AS BIGINT) AS pass_all_ppm
      |FROM r GROUP BY 1""".stripMargin

  // --------------------------- discrete hazard table (B279)

  /** `events_hazard_rate` — the discrete-time hazard function behind
    * B245's Kaplan–Meier curve: lifespan = days between a user's first
    * and last event; h(d) = users ending at lifespan d ÷ users with
    * lifespan ≥ d (at-risk), with the exact survival fraction beside.
    * Complete observation (no censoring on the bounded fixture window),
    * so hazard and survival are pure integer ratios — the table a
    * retention team reads OFF the KM curve ("at which age do we lose
    * people fastest?").
    *
    * Scale shape: per-user min/max day is one map-side-combined agg; the
    * hazard windows run over the lifespan HISTOGRAM (day-span-bounded,
    * not user-bounded).
    */
  private def eventsHazardRate(s: SparkSession, dir: String): DataFrame = {
    val spans = events(s, dir)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .groupBy(col("user_id"))
      .agg((max(col("day")) - min(col("day"))).as("lifespan"))
    val hist = spans.groupBy(col("lifespan")).agg(count(lit(1)).as("n_churn"))
    val w    = Window.orderBy(col("lifespan").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    hist
      .withColumn("n_at_risk", sum(col("n_churn")).over(w))
      .withColumn("n_total", sum(col("n_churn")).over(tot))
      .select(
        col("lifespan").as("lifespan_days"),
        col("n_churn"),
        col("n_at_risk"),
        expr("n_churn * 1000000 div n_at_risk").as("hazard_ppm"),
        expr("(n_at_risk - n_churn) * 1000000 div n_total").as("surv_after_ppm"))
  }

  private val eventsHazardRateSql =
    """WITH spans AS (
      |  SELECT user_id, max(epoch_ms(ts) // 86400000) - min(epoch_ms(ts) // 86400000) AS lifespan
      |  FROM events GROUP BY 1),
      |hist AS (SELECT lifespan, count(*) AS n_churn FROM spans GROUP BY 1)
      |SELECT lifespan AS lifespan_days, n_churn,
      |  CAST(sum(n_churn) OVER (ORDER BY lifespan DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk,
      |  CAST(n_churn * 1000000 // sum(n_churn) OVER (ORDER BY lifespan DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hazard_ppm,
      |  CAST((sum(n_churn) OVER (ORDER BY lifespan DESC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_churn) * 1000000
      |       // sum(n_churn) OVER () AS BIGINT) AS surv_after_ppm
      |FROM hist""".stripMargin

  // --------------------------- OCR/garbage gate (B280)

  /** `text_ocr_garbage` — the OCR-artifact/garbage-text gate a scanned or
    * PDF-extracted corpus needs before training: per document, symbol
    * density (non-[a-z0-9 ] chars), longest consonant run (OCR noise like
    * "xvbnmz" reads as impossible consonant clusters), and mixed
    * digit+letter token share; a doc is flagged when symbols exceed 20%
    * of chars OR the consonant run reaches 8 OR mixed tokens exceed 20%
    * of words. All thresholds integer inequalities. The clean template
    * fixture flags ~0 — the honest negative; the rates are the point.
    *
    * Scale shape: row-local regexes fused into the scan; one source agg.
    */
  private def textOcrGarbage(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("source"),
        expr("regexp_replace(lower(text), '\\\\s+', ' ')").as("nrm"))
      .where(length(col("nrm")) >= 1)
      .withColumn("nchars", length(col("nrm")).cast("long"))
      .withColumn("nsym",
        (length(col("nrm")) - length(regexp_replace(col("nrm"), "[^a-z0-9 ]", ""))).cast("long"))
      .withColumn("maxrun",
        expr("CAST(coalesce(array_max(transform(" +
          "regexp_extract_all(nrm, '[bcdfghjklmnpqrstvwxyz]+', 0), x -> length(x))), 0) AS BIGINT)"))
      .withColumn("words", split(col("nrm"), " "))
      .withColumn("nw", size(col("words")).cast("long"))
      .withColumn("nmixed",
        // translate-based digit/letter presence instead of two regex
        // matches per word: the lambda body stays cheap scalar work (the
        // HOF itself is interpreted either way; the regexes were the
        // cost — sf10 probe 42 s -> re-measured after this change)
        expr("CAST(size(filter(words, w -> " +
          "translate(w, '0123456789', '') != w AND " +
          "translate(w, 'abcdefghijklmnopqrstuvwxyz', '') != w)) AS BIGINT)"))
      .withColumn("flagged",
        (col("nsym") * 5 > col("nchars") || col("maxrun") >= 8 ||
          col("nmixed") * 5 > col("nw")).cast("long"))
    d.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("flagged")).as("n_flagged"),
        expr("sum(flagged) * 1000000 div count(1)").as("flag_ppm"),
        expr("sum(nsym) * 1000000 div sum(nchars)").as("sym_density_ppm"),
        max(col("maxrun")).as("max_consonant_run"))
  }

  private val textOcrGarbageSql =
    """WITH d AS (
      |  SELECT source, regexp_replace(lower(text), '\s+', ' ', 'g') AS nrm
      |  FROM documents WHERE len(regexp_replace(lower(text), '\s+', ' ', 'g')) >= 1),
      |f AS (
      |  SELECT source,
      |    CAST(len(nrm) AS BIGINT) AS nchars,
      |    CAST(len(nrm) - len(regexp_replace(nrm, '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS nsym,
      |    CAST(coalesce(list_max([len(x) FOR x IN
      |      regexp_extract_all(nrm, '[bcdfghjklmnpqrstvwxyz]+')]), 0) AS BIGINT) AS maxrun,
      |    CAST(len(string_split(nrm, ' ')) AS BIGINT) AS nw,
      |    CAST(len([w FOR w IN string_split(nrm, ' ')
      |              IF regexp_matches(w, '[0-9]') AND regexp_matches(w, '[a-z]')]) AS BIGINT) AS nmixed
      |  FROM d),
      |r AS (
      |  SELECT source, nchars, nsym, maxrun,
      |    CASE WHEN nsym * 5 > nchars OR maxrun >= 8 OR nmixed * 5 > nw
      |         THEN 1 ELSE 0 END AS flagged
      |  FROM f)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(flagged) AS BIGINT) AS n_flagged,
      |  CAST(sum(flagged) * 1000000 // count(*) AS BIGINT) AS flag_ppm,
      |  CAST(sum(nsym) * 1000000 // sum(nchars) AS BIGINT) AS sym_density_ppm,
      |  max(maxrun) AS max_consonant_run
      |FROM r GROUP BY 1""".stripMargin

  // --------------------------- per-user burstiness (B281)

  /** `events_burstiness` — per-user interarrival Fano factor
    * F = Var/Mean = (n·Σg² − (Σg)²) / (n·Σg), the dispersion index that
    * separates Poisson-like users (F ≈ mean gap) from bursty ones —
    * bot/session structure reads directly off the distribution. Exact:
    * gaps in whole seconds, sums in DECIMAL(38,0) (a year of gaps
    * squared overflows BIGINT at sf10), F reported in integer milli;
    * users bucketed by the exact bit-length of F (B273's degree-bucket
    * convention) so the output is a bounded histogram, not 10⁶ user rows.
    *
    * Scale shape: one per-user lag window (keyed shuffle), one map-side
    * per-user agg, ≤64-bucket rollup.
    */
  private def eventsBurstiness(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val gaps = events(s, dir)
      .select(col("user_id"), col("event_id"), expr("unix_millis(ts) div 1000").as("sec"))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
      .where(col("gap").isNotNull)
    val perUser = gaps.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("gap").cast("decimal(38,0)")).as("sg"),
        sum((col("gap") * col("gap")).cast("decimal(38,0)")).as("sgg"))
      .where(col("n") >= 2 && col("sg") > 0)
      .withColumn("f_milli",
        expr("CAST((n * sgg - sg * sg) * 1000 div (n * sg) AS BIGINT)"))
    perUser
      .groupBy(length(expr("bin(f_milli + 1)")).cast("long").as("f_bucket"))
      .agg(
        count(lit(1)).as("n_users"),
        expr("CAST(sum(f_milli) div count(1) AS BIGINT)").as("avg_f_milli"))
  }

  private val eventsBurstinessSql =
    """WITH g AS (
      |  SELECT user_id,
      |    sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap
      |  FROM (SELECT user_id, event_id, epoch_ms(ts) // 1000 AS sec FROM events)),
      |pu AS (
      |  SELECT user_id, count(*) AS n,
      |    CAST(sum(gap) AS HUGEINT) AS sg,
      |    CAST(sum(gap * gap) AS HUGEINT) AS sgg
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1
      |  HAVING count(*) >= 2 AND sum(gap) > 0),
      |f AS (SELECT CAST((n * sgg - sg * sg) * 1000 // (n * sg) AS BIGINT) AS f_milli FROM pu)
      |SELECT CAST(len(bin(f_milli + 1)) AS BIGINT) AS f_bucket,
      |  count(*) AS n_users,
      |  CAST(sum(f_milli) // count(*) AS BIGINT) AS avg_f_milli
      |FROM f GROUP BY 1""".stripMargin

  // --------------------------- hourly peak capacity (B282)

  /** `events_peak_capacity` — the capacity-planning table: per event
    * type, hourly event counts rolled into mean, p50/p95/p99 (B213's
    * integer ceil-rank convention over the sorted hourly counts), the
    * peak hour, and peak-to-mean in milli — "provision for p99, not for
    * mean" quantified. All integer.
    *
    * Scale shape: (type, hour) map-side count; the quantile windows run
    * over the hour histogram (calendar-bounded, not event-bounded).
    */
  private def eventsPeakCapacity(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .select(col("event_type"), expr("unix_millis(ts) div 3600000").as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("c"))
    val w  = Window.partitionBy(col("event_type")).orderBy(col("c"), col("hr"))
    val wt = Window.partitionBy(col("event_type"))
    hourly
      .withColumn("rk", row_number().over(w))
      .withColumn("n_hours", count(lit(1)).over(wt))
      .withColumn("total", sum(col("c")).over(wt))
      .withColumn("peak", max(col("c")).over(wt))
      .select(
        col("event_type"), col("n_hours"), col("total"), col("peak"), col("rk"), col("c"))
      .withColumn("p50", when(col("rk") === expr("(n_hours * 50 + 99) div 100"), col("c")))
      .withColumn("p95", when(col("rk") === expr("(n_hours * 95 + 99) div 100"), col("c")))
      .withColumn("p99", when(col("rk") === expr("(n_hours * 99 + 99) div 100"), col("c")))
      .groupBy(col("event_type"))
      .agg(
        first(col("n_hours")).as("n_hours"),
        expr("first(total) div first(n_hours)").as("mean_per_hour"),
        max(col("p50")).as("p50"),
        max(col("p95")).as("p95"),
        max(col("p99")).as("p99"),
        first(col("peak")).as("peak"),
        expr("first(peak) * 1000 * first(n_hours) div first(total)").as("peak_to_mean_milli"))
  }

  private val eventsPeakCapacitySql =
    """WITH hourly AS (
      |  SELECT event_type, epoch_ms(ts) // 3600000 AS hr, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |rk AS (
      |  SELECT event_type, c,
      |    row_number() OVER (PARTITION BY event_type ORDER BY c, hr) AS rk,
      |    count(*) OVER (PARTITION BY event_type) AS n_hours,
      |    sum(c) OVER (PARTITION BY event_type) AS total,
      |    max(c) OVER (PARTITION BY event_type) AS peak
      |  FROM hourly)
      |SELECT event_type,
      |  CAST(any_value(n_hours) AS BIGINT) AS n_hours,
      |  CAST(any_value(total) // any_value(n_hours) AS BIGINT) AS mean_per_hour,
      |  max(CASE WHEN rk = (n_hours * 50 + 99) // 100 THEN c END) AS p50,
      |  max(CASE WHEN rk = (n_hours * 95 + 99) // 100 THEN c END) AS p95,
      |  max(CASE WHEN rk = (n_hours * 99 + 99) // 100 THEN c END) AS p99,
      |  CAST(any_value(peak) AS BIGINT) AS peak,
      |  CAST(any_value(peak) * 1000 * any_value(n_hours) // any_value(total) AS BIGINT)
      |    AS peak_to_mean_milli
      |FROM rk GROUP BY 1""".stripMargin

  // --------------------------- CDC arrival-order audit (B283)

  /** `cdc_inversion_audit` — how out-of-order is the change feed? Per
    * entity (user), walk arrivals in OFFSET order (event_id — the
    * append-log position) and flag rows whose event time is behind the
    * entity's running maximum; report per event type the inversion rate,
    * the worst backward jump, and how many entities ever see one. This
    * is the measurement that justifies (or rejects) a watermark bound:
    * `withWatermark("ts", X)` silently DROPS anything later than X, so X
    * is chosen by reading exactly this table — max_backjump IS the
    * smallest safe watermark.
    *
    * Scale shape: one per-user running-max window (keyed shuffle), one
    * type-level agg; output is type-bounded.
    */
  private def cdcInversionAudit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_millis(ts)").as("ms"))
      .withColumn("prev_max", max(col("ms")).over(w))
      .select(
        col("event_type"),
        (col("prev_max").isNotNull && col("ms") < col("prev_max")).cast("long").as("inv"),
        when(col("prev_max").isNotNull && col("ms") < col("prev_max"),
          col("prev_max") - col("ms")).otherwise(lit(0L)).as("backjump"),
        col("user_id"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("inv")).as("n_inverted"),
        expr("sum(inv) * 1000000 div count(1)").as("inverted_ppm"),
        max(col("backjump")).as("max_backjump_ms"),
        countDistinct(when(col("inv") === 1, col("user_id"))).as("n_users_inverted"))
  }

  private val cdcInversionAuditSql =
    """WITH x AS (
      |  SELECT event_type, user_id, epoch_ms(ts) AS ms,
      |    max(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM events),
      |r AS (
      |  SELECT event_type, user_id,
      |    CASE WHEN prev_max IS NOT NULL AND ms < prev_max THEN 1 ELSE 0 END AS inv,
      |    CASE WHEN prev_max IS NOT NULL AND ms < prev_max THEN prev_max - ms ELSE 0 END AS backjump
      |  FROM x)
      |SELECT event_type, count(*) AS n_rows,
      |  CAST(sum(inv) AS BIGINT) AS n_inverted,
      |  CAST(sum(inv) * 1000000 // count(*) AS BIGINT) AS inverted_ppm,
      |  max(backjump) AS max_backjump_ms,
      |  CAST(count(DISTINCT CASE WHEN inv = 1 THEN user_id END) AS BIGINT) AS n_users_inverted
      |FROM r GROUP BY 1""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_gopher_rules", Seq("B278"), textGopherRules, textGopherRulesSql),
    QuerySpec("events_hazard_rate", Seq("B279"), eventsHazardRate, eventsHazardRateSql),
    QuerySpec("text_ocr_garbage", Seq("B280"), textOcrGarbage, textOcrGarbageSql),
    QuerySpec("events_burstiness", Seq("B281"), eventsBurstiness, eventsBurstinessSql),
    QuerySpec("events_peak_capacity", Seq("B282"), eventsPeakCapacity, eventsPeakCapacitySql),
    QuerySpec("cdc_inversion_audit", Seq("B283"), cdcInversionAudit, cdcInversionAuditSql)
  )
}
