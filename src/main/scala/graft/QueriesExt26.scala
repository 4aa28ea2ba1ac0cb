package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.normSql

/** Round-8 additions, batch 20: distribution-position (cume_dist), robust
  * scale (median absolute deviation), and sentence-granularity text stats
  * — closing the window-function inventory and the robust-statistics
  * toolkit.
  */
object QueriesExt26 {

  // --------------------------- cumulative distribution (B160)

  /** Each supplier's cumulative-distribution position of account balance
    * within its nation — `cume_dist` is the remaining SQL-window primitive
    * the inventory lacked (rank/percent_rank/ntile/lead/lag/first/last all
    * exist); tie semantics (share of rows ≤ current value) are rank-based
    * and engine-exact, so the only double is the final division, rounded.
    *
    * Scale shape: one nation-keyed window — partition-parallel, no global
    * sort.
    */
  private def qCumeDist(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey")).orderBy(col("s_acctbal").asc)
    supplier(s, dir)
      .select(
        col("s_nationkey"),
        col("s_suppkey"),
        round(col("s_acctbal").cast("decimal(18,2)"), 2).cast("double").as("acctbal"),
        round(cume_dist().over(w), 6).as("bal_cume")
      )
  }

  private val qCumeDistSql =
    """SELECT s_nationkey, s_suppkey,
      |  CAST(round(CAST(s_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE) AS acctbal,
      |  round(cume_dist() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal ASC), 6) AS bal_cume
      |FROM supplier""".stripMargin

  // --------------------------- median absolute deviation (B161)

  /** Robust scale of daily event volume per type: MAD = median(|cnt −
    * median(cnt)|) over the daily counts — the outlier-immune partner of
    * B23's z-score baseline (one crazy day moves a stddev, not a MAD).
    * Exactness: daily counts are integers, both medians interpolate at
    * worst one .5-exact midpoint over a ≤days-sized series, and the
    * deviations are exact halves — no libm anywhere.
    *
    * Scale shape: one (type, day) map-side count; both median aggs run on
    * the days-sized series per type (the bounded-domain argument of the
    * anomaly family), never on raw events.
    */
  private def eventsMad(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val med = daily
      .groupBy(col("event_type"))
      .agg(expr("percentile(cnt, 0.5)").as("med_daily"), count(lit(1)).as("n_days"))
    daily
      .join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        first(col("med_daily")).as("med_daily"),
        first(col("n_days")).as("n_days"),
        expr("percentile(abs(cnt - med_daily), 0.5)").as("mad_daily")
      )
      .select(
        col("event_type"),
        col("n_days"),
        round(col("med_daily"), 6).as("med_daily"),
        round(col("mad_daily"), 6).as("mad_daily")
      )
  }

  private val eventsMadSql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |med AS (
      |  SELECT event_type, median(cnt) AS med_daily, count(*) AS n_days
      |  FROM daily GROUP BY 1)
      |SELECT d.event_type, any_value(m.n_days) AS n_days,
      |  round(any_value(m.med_daily), 6) AS med_daily,
      |  round(median(abs(d.cnt - m.med_daily)), 6) AS mad_daily
      |FROM daily d JOIN med m USING (event_type)
      |GROUP BY 1""".stripMargin

  // --------------------------- sentence statistics (B162)

  /** Sentence-granularity corpus stats per source: sentence count, mean
    * words per sentence, and the longest sentence — the readability axis
    * token stats (B5) can't see (a source of 400-word run-on sentences
    * tokenizes identically to one of crisp 12-word lines). Sentences are
    * [.!?]+ splits of the normalized text; empty segments (trailing
    * punctuation) are dropped on both sides.
    *
    * Scale shape: split + explode is the corpus-linear scan stage; the
    * rollup is one map-side-combined agg to sources-sized output.
    */
  private def textSentenceStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(
        col("source"),
        explode(
          filter(
            transform(split(operators.TextAnalysis.normalize(col("text")), "[.!?]+"), x => trim(x)),
            x => length(x) > 0
          )
        ).as("sentence")
      )
      .select(col("source"), size(split(col("sentence"), " ")).cast("long").as("n_words"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_sentences"),
        round(sum(col("n_words")).cast("double") / count(lit(1)), 6).as("avg_words"),
        max(col("n_words")).as("max_words")
      )

  private val textSentenceStatsSql =
    s"""WITH segs AS (
       |  SELECT source, trim(unnest(string_split_regex($normSql, '[.!?]+'))) AS sentence
       |  FROM documents),
       |sent AS (
       |  SELECT source, CAST(len(string_split(sentence, ' ')) AS BIGINT) AS n_words
       |  FROM segs WHERE length(sentence) > 0)
       |SELECT source, count(*) AS n_sentences,
       |  round(CAST(sum(n_words) AS DOUBLE) / count(*), 6) AS avg_words,
       |  max(n_words) AS max_words
       |FROM sent GROUP BY 1""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_cume_dist", Seq("B160"), qCumeDist, qCumeDistSql),
    QuerySpec("events_mad", Seq("B161"), eventsMad, eventsMadSql),
    QuerySpec("text_sentence_stats", Seq("B162"), textSentenceStats, textSentenceStatsSql)
  )
}
