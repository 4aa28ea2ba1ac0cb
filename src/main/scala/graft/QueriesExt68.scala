package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._

/** Round-10 additions, batch 61: held-out evaluation for the quality LM
  * (B22 scores with a model trained on the SAME corpus — fine as a
  * relative filter, circular as an eval; this splits first), and the
  * daily new-vs-returning mix, the audience-composition fundamental the
  * retention family (B40/B139) reads but never emits.
  */
object QueriesExt68 {

  // --------------------------- held-out LM perplexity (B255)

  /** Char-bigram LM with a train/validation split
    * (`text_lm_holdout_ppl`): documents hash into 10 folds
    * (md5("cv:<id>"), B178's pure-function split contract) — folds 0–7
    * train the bigram model (B22's exact conventions: normalized text,
    * logp = round(ln c₂ − ln c₁, 6) in integer micros), folds 8–9 are
    * scored AGAINST that model with unseen bigrams taking a fixed
    * ln(10⁻⁶) floor. Per source: validation docs/bigrams, mean NLL in
    * micro-nats, and the out-of-vocabulary rate — the honest version of
    * B22's filter score (a model scored on its own training set
    * understates NLL and reports zero OOV by construction; this is the
    * number you'd compare two cleaning recipes by).
    *
    * Scale shape: one bigram explode (codegen sequence + substr, B22's
    * shape) feeds both sides; the model is ≤ |charset|²-bounded, so the
    * scoring join BROADCASTS the model under the validation stream;
    * per-source rollup is a tiny hash-agg. All sums are exact BIGINTs
    * of snapped integers.
    */
  private def textLmHoldoutPpl(s: SparkSession, dir: String): DataFrame = {
    val floorMicro = -13815511L // round(ln(1e-6), 6) * 1e6
    val base = documents(s, dir)
      .select(col("doc_id"), col("source"),
        operators.TextAnalysis.normalize(col("text")).as("nrm"),
        (graft.functions.Hashing.h32(concat(lit("cv:"), col("doc_id").cast("string"))) % 10)
          .as("fold"))
    // Two FILTERED explode scans, not one checkpointed bigram table:
    // materializing the full bigram stream before either branch reads
    // it is the shape the r11 sf10 probe caught on B262's twin (205 s,
    // 41×/decade — localCheckpoint spills ~2.3 B rows at 5 M docs);
    // the fold filter pushes to the scan and the codegen explode
    // re-runs per branch for free.
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
    val wc = Window.partitionBy(substring(col("b"), 1, 1))
    val model = m2
      .withColumn("c1", sum(col("c2")).over(wc))
      .select(col("b"),
        round(round(log(col("c2").cast("double")) - log(col("c1").cast("double")), 6) * 1000000L, 0)
          .cast("long").as("logp_micro"))
    bg(col("fold") >= 8)
      .join(broadcast(model), Seq("b"), "left")
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_val_docs"),
        count(lit(1)).as("n_bigrams"),
        expr(s"CAST(-sum(coalesce(logp_micro, ${floorMicro}L)) div count(1) AS BIGINT)")
          .as("mean_nll_micro"),
        expr("CAST(sum(CASE WHEN logp_micro IS NULL THEN 1 ELSE 0 END) * 1000000 div count(1) AS BIGINT)")
          .as("oov_ppm"))
  }

  private val textLmHoldoutPplSql = {
    import Parity.normSql
    s"""WITH base AS (
       |  SELECT doc_id, source, $normSql AS nrm,
       |    CAST('0x' || substr(md5('cv:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 AS fold
       |  FROM documents),
       |bg AS MATERIALIZED (
       |  SELECT doc_id, source, fold, substr(nrm, i, 2) AS b
       |  FROM base,
       |  UNNEST(range(1, greatest(len(nrm) - 1, 1) + 1)) t(i)),
       |m2 AS (SELECT b, count(*) AS c2 FROM bg WHERE fold <= 7 GROUP BY 1),
       |model AS MATERIALIZED (
       |  SELECT b,
       |    CAST(round(round(ln(c2::DOUBLE) - ln(c1::DOUBLE), 6) * 1000000) AS BIGINT) AS logp_micro
       |  FROM (SELECT b, c2, sum(c2) OVER (PARTITION BY substr(b, 1, 1)) AS c1 FROM m2))
       |SELECT v.source,
       |  count(DISTINCT v.doc_id) AS n_val_docs,
       |  count(*) AS n_bigrams,
       |  CAST(-sum(coalesce(m.logp_micro, -13815511)) // count(*) AS BIGINT) AS mean_nll_micro,
       |  CAST(sum(CASE WHEN m.logp_micro IS NULL THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
       |    AS oov_ppm
       |FROM (SELECT * FROM bg WHERE fold >= 8) v
       |LEFT JOIN model m ON m.b = v.b
       |GROUP BY 1""".stripMargin
  }

  // --------------------------- new vs returning users (B256)

  /** Daily audience composition (`events_new_vs_returning`): per day,
    * distinct active users split into first-ever-seen ("new") and
    * previously-seen ("returning"), with the new share in ppm — the
    * growth-vs-retention mix chart every product review opens with;
    * B40's stickiness and B139's reactivation read this decomposition
    * implicitly, this emits it.
    *
    * Scale shape: one distinct (user, day) agg (map-side combined), the
    * per-user first day derived from the SAME bounded table (min over a
    * user's ≤days rows), joined back user-keyed; final rollup is
    * day-bounded.
    */
  private def eventsNewVsReturning(s: SparkSession, dir: String): DataFrame = {
    val ud = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    ud.join(first, Seq("user_id"))
      .groupBy(col("day"))
      .agg(
        count(lit(1)).as("active_users"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_users"))
      .select(
        col("day").cast("string").as("day"),
        col("active_users"), col("new_users"),
        (col("active_users") - col("new_users")).as("returning_users"),
        expr("new_users * 1000000 div active_users").as("new_ppm"))
  }

  private val eventsNewVsReturningSql =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
      |SELECT CAST(ud.day AS VARCHAR) AS day,
      |  count(*) AS active_users,
      |  CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      |  count(*) - CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
      |    AS returning_users,
      |  CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
      |    AS new_ppm
      |FROM ud JOIN f ON f.user_id = ud.user_id
      |GROUP BY 1""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_lm_holdout_ppl", Seq("B255"), textLmHoldoutPpl, textLmHoldoutPplSql),
    QuerySpec("events_new_vs_returning", Seq("B256"), eventsNewVsReturning, eventsNewVsReturningSql)
  )
}
