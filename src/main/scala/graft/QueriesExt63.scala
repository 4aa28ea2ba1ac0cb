package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._

/** Round-10 additions, batch 56: holdout evaluation for the behavioral
  * model family — B61 fits the transition matrix, B240 finds where it
  * settles; this is the only one that asks "does it PREDICT anything",
  * the train/test discipline the numeric twin B236 applies to counts.
  */
object QueriesExt63 {

  // --------------------------- Markov holdout accuracy (B249)

  /** Out-of-sample top-1 accuracy of the event-type Markov predictor
    * (`events_markov_holdout_acc`): the per-user transition stream is
    * split at the observation window's calendar midpoint (B247's exact
    * integer rule) — transitions completing on or before the midpoint
    * train the matrix, later ones test it. Prediction per previous type
    * is the argmax train count (ties → lexicographic); per previous
    * type the readout is the prediction, test support, hits, accuracy,
    * and the majority-class baseline (always predict the globally most
    * common next type in TRAIN) — the lift column says whether
    * conditioning on the previous event beats knowing nothing, the
    * minimum bar for shipping next-action features. All counts and ppm
    * are exact integers; unseen previous types predict NULL and score 0.
    *
    * Scale shape: one per-user lag window (bounded per user) feeds both
    * splits; train collapses to a types²-key agg, the argmax is a
    * window over that tiny matrix, and the test join is test-transitions
    * × a ≤types-row broadcast. Nothing after the window grows with
    * event volume.
    */
  private def eventsMarkovHoldoutAcc(s: SparkSession, dir: String): DataFrame = {
    val bounds = events(s, dir)
      .agg(min(to_date(col("ts"))).as("dmin"), max(to_date(col("ts"))).as("dmax"))
      .select(expr("date_add(dmin, CAST(datediff(dmax, dmin) div 2 AS INT))").as("dmid"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("curr_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .where(col("prev_type").isNotNull)
      .crossJoin(broadcast(bounds))
      .select(col("prev_type"), col("curr_type"),
        when(to_date(col("ts")) > col("dmid"), 1L).otherwise(0L).as("is_test"))
    val train = trans.where(col("is_test") === 0)
      .groupBy(col("prev_type"), col("curr_type"))
      .agg(count(lit(1)).as("n"))
    val pred = train
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("prev_type")).orderBy(col("n").desc, col("curr_type").asc)))
      .where(col("rn") === 1)
      .select(col("prev_type"), col("curr_type").as("predicted"))
    val majority = train
      .groupBy(col("curr_type"))
      .agg(sum(col("n")).as("n"))
      .orderBy(col("n").desc, col("curr_type").asc)
      .limit(1)
      .select(col("curr_type").as("majority_type"))
    trans.where(col("is_test") === 1)
      .join(broadcast(pred), Seq("prev_type"), "left")
      .crossJoin(broadcast(majority))
      .groupBy(col("prev_type"), col("predicted"))
      .agg(
        count(lit(1)).as("n_test"),
        sum(when(col("curr_type") === col("predicted"), 1L).otherwise(0L)).as("n_correct"),
        sum(when(col("curr_type") === col("majority_type"), 1L).otherwise(0L)).as("n_baseline"))
      .select(
        col("prev_type"), col("predicted"), col("n_test"), col("n_correct"),
        expr("n_correct * 1000000 div n_test").as("acc_ppm"),
        expr("n_baseline * 1000000 div n_test").as("baseline_acc_ppm"))
  }

  private val eventsMarkovHoldoutAccSql =
    """WITH bounds AS (
      |  SELECT min(CAST(ts AS DATE)) AS dmin, max(CAST(ts AS DATE)) AS dmax FROM events),
      |mid AS (SELECT dmin + CAST(date_diff('day', dmin, dmax) // 2 AS INT) AS dmid FROM bounds),
      |seq AS (
      |  SELECT user_id, ts, event_type AS curr_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |trans AS MATERIALIZED (
      |  SELECT prev_type, curr_type,
      |    CASE WHEN CAST(ts AS DATE) > mid.dmid THEN 1 ELSE 0 END AS is_test
      |  FROM seq, mid WHERE prev_type IS NOT NULL),
      |train AS (
      |  SELECT prev_type, curr_type, count(*) AS n
      |  FROM trans WHERE is_test = 0 GROUP BY 1, 2),
      |pred AS (
      |  SELECT prev_type, curr_type AS predicted FROM (
      |    SELECT prev_type, curr_type,
      |      row_number() OVER (PARTITION BY prev_type ORDER BY n DESC, curr_type ASC) AS rn
      |    FROM train)
      |  WHERE rn = 1),
      |majority AS (
      |  SELECT curr_type AS majority_type FROM (
      |    SELECT curr_type, CAST(sum(n) AS BIGINT) AS n FROM train GROUP BY 1)
      |  ORDER BY n DESC, curr_type ASC LIMIT 1)
      |SELECT t.prev_type, p.predicted, count(*) AS n_test,
      |  CAST(sum(CASE WHEN t.curr_type = p.predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |  CAST(sum(CASE WHEN t.curr_type = p.predicted THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
      |    AS acc_ppm,
      |  CAST(sum(CASE WHEN t.curr_type = m.majority_type THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
      |    AS baseline_acc_ppm
      |FROM (SELECT * FROM trans WHERE is_test = 1) t
      |LEFT JOIN pred p ON p.prev_type = t.prev_type
      |CROSS JOIN majority m
      |GROUP BY 1, 2""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_markov_holdout_acc", Seq("B249"), eventsMarkovHoldoutAcc, eventsMarkovHoldoutAccSql)
  )
}
