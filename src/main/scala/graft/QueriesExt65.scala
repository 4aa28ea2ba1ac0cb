package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._

/** Round-10 additions, batch 58: the corpus growth law itself — B243's
  * "vocabulary grows sublinearly (Heaps)" claim and every vocab-bounded
  * scale argument in the text family lean on an exponent this query
  * finally measures.
  */
object QueriesExt65 {

  // --------------------------- Heaps'-law exponent (B251)

  /** Empirical Heaps'-law fit V = K·Nᵝ (`text_heaps_law`): five nested
    * corpora — the lexicographically first 1/2/4/8/16 sources — give
    * (total tokens, distinct tokens) points whose membership is a pure
    * function of the source names (deterministic, order-free, unlike a
    * document-prefix curve); β is the Theil–Sen median of pairwise
    * log–log slopes with every ln micro-snapped BEFORE arithmetic
    * (B184) and B215's positivity-shift floor-division + lower-median
    * rank convention, so the whole fit is exact integers. Also emits
    * the projected ln-vocabulary at 10× the largest corpus
    * (y_max + β·ln10, micro-nats) — the "how big does the BPE/vocab
    * table get next decade" number that prices B243's training rounds
    * and every vocab-keyed aggregation in the family.
    *
    * Scale shape: tokens explode once ×5 nested levels (a constant
    * fan-out on the already-linear token stream) into a per-level
    * count + distinct-count — key space bounded by 5 × vocabulary; the
    * slope table is ≤ 10 pairs of 5 points. Nothing is ordered by
    * document position, so the points are reproducible under any
    * partitioning.
    */
  private def textHeapsLaw(s: SparkSession, dir: String): DataFrame = {
    def snapLn(x: String) =
      expr(s"CAST(round(round(ln(CAST(($x) AS DOUBLE)), 6) * 1000000, 0) AS BIGINT)")
    val words = documents(s, dir)
      .select(col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
    val ranked = words
      .join(
        broadcast(words.select(col("source")).distinct()
          .select(col("source"),
            row_number().over(Window.orderBy(col("source").asc)).as("srk"))),
        Seq("source"))
    val levels = ranked
      .crossJoin(broadcast(
        words.sparkSession.range(1).select(
          explode(array(lit(1), lit(2), lit(4), lit(8), lit(16))).as("lvl"))))
      .where(col("srk") <= col("lvl"))
      .groupBy(col("lvl"))
      .agg(count(lit(1)).as("n_tokens"), count_distinct(col("word")).as("n_vocab"))
      .select(col("lvl"), col("n_tokens"), col("n_vocab"),
        snapLn("n_tokens").as("x"), snapLn("n_vocab").as("y"))
      .localCheckpoint(true)
    val a = levels.select(col("lvl").as("l1"), col("x").as("x1"), col("y").as("y1"))
    val b = levels.select(col("lvl").as("l2"), col("x").as("x2"), col("y").as("y2"))
    val pairs = a.crossJoin(broadcast(b))
      .where(col("x2") > col("x1"))
      .select(col("l1"), col("l2"),
        expr("(y2 - y1 + 10 * (x2 - x1)) * 1000000 div (x2 - x1)").as("q"))
    val beta = pairs
      .withColumn("rn", row_number().over(Window.orderBy(col("q"), col("l1"), col("l2"))))
      .withColumn("np", count(lit(1)).over(Window.partitionBy()))
      .agg(
        max(col("np")).as("n_pairs"),
        (min(when(col("rn") === expr("(np + 1) div 2"), col("q"))) - lit(10000000L))
          .as("heaps_beta_micro"))
    val anchor = levels
      .withColumn("rn", row_number().over(Window.orderBy(col("x").desc, col("lvl").asc)))
      .where(col("rn") === 1)
      .select(col("n_tokens").as("max_tokens"), col("n_vocab").as("max_vocab"),
        col("y").as("y_max"))
    beta
      .crossJoin(broadcast(anchor))
      .select(
        lit(5L).as("n_points"), col("n_pairs"), col("heaps_beta_micro"),
        col("max_tokens"), col("max_vocab"),
        // ln10 = 2.302585 → 2302585 micro-nats, the same 6-dp snap class
        expr("y_max + heaps_beta_micro * 2302585 div 1000000").as("ln_vocab_10x_micro"))
  }

  private val textHeapsLawSql = {
    def snapLn(x: String) =
      s"CAST(round(round(ln(CAST(($x) AS DOUBLE)), 6) * 1000000) AS BIGINT)"
    s"""WITH words AS MATERIALIZED (
       |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |srcs AS (
       |  SELECT source, row_number() OVER (ORDER BY source ASC) AS srk
       |  FROM (SELECT DISTINCT source FROM words)),
       |lv AS MATERIALIZED (
       |  SELECT l.lvl, count(*) AS n_tokens, count(DISTINCT w.word) AS n_vocab
       |  FROM words w
       |  JOIN srcs s ON s.source = w.source
       |  JOIN (SELECT unnest([1, 2, 4, 8, 16]) AS lvl) l ON s.srk <= l.lvl
       |  GROUP BY 1),
       |pts AS (
       |  SELECT lvl, n_tokens, n_vocab,
       |    ${snapLn("n_tokens")} AS x, ${snapLn("n_vocab")} AS y
       |  FROM lv),
       |pairs AS (
       |  SELECT a.lvl AS l1, b.lvl AS l2,
       |    (b.y - a.y + 10 * (b.x - a.x)) * 1000000 // (b.x - a.x) AS q
       |  FROM pts a JOIN pts b ON b.x > a.x),
       |rk AS (
       |  SELECT *, row_number() OVER (ORDER BY q, l1, l2) AS rn,
       |    count(*) OVER () AS np
       |  FROM pairs),
       |beta AS (
       |  SELECT CAST(max(np) AS BIGINT) AS n_pairs,
       |    min(CASE WHEN rn = (np + 1) // 2 THEN q END) - 10000000 AS heaps_beta_micro
       |  FROM rk),
       |anchor AS (
       |  SELECT n_tokens AS max_tokens, n_vocab AS max_vocab, y AS y_max
       |  FROM pts ORDER BY x DESC, lvl ASC LIMIT 1)
       |SELECT CAST(5 AS BIGINT) AS n_points, n_pairs, heaps_beta_micro,
       |  max_tokens, CAST(max_vocab AS BIGINT) AS max_vocab,
       |  y_max + heaps_beta_micro * 2302585 // 1000000 AS ln_vocab_10x_micro
       |FROM beta, anchor""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_heaps_law", Seq("B251"), textHeapsLaw, textHeapsLawSql)
  )
}
