package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.dec2
import graft.operators.TextAnalysis

/** Eighth query batch — remaining relational/window/text surface:
  *
  *  - `q_unpivot`: wide→long reshaping (`Dataset.unpivot`), the inverse
  *    of `q_pivot_status`, done as a pivot→unpivot round trip;
  *  - `q_range_frame`: value-RANGE window frames (sum/count over a
  *    "±$1000 of this order" band), complementing the row-frame surface
  *    in `q_running_total`/`q_first_last`;
  *  - `q_percent_rank`: relative-rank window functions (percent_rank,
  *    cume_dist) — exact rational doubles, bit-equal across engines;
  *  - `text_ngram_freq`: corpus-level word-bigram top-k, extending the
  *    unigram `text_word_topk` (SURVEY §2 B13).
  */
object QueriesExt8 {

  // --------------------------------------------------------------- unpivot

  /** Pivot orders into per-priority status sums, then unpivot the measure
    * columns back to long form. Exercises `Dataset.unpivot` (melt): the
    * ids/values split, the variable/value output columns, and null
    * handling (absent combinations surface as 0.0 via the same coalesce
    * the pivot query uses).
    */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum(dec2(col("o_totalprice"))), 2).cast("double"))
      .select(
        col("o_orderpriority"),
        coalesce(col("F"), lit(0.0)).as("sum_f"),
        coalesce(col("O"), lit(0.0)).as("sum_o"),
        coalesce(col("P"), lit(0.0)).as("sum_p")
      )
    wide.unpivot(
      Array(col("o_orderpriority")),
      Array(col("sum_f"), col("sum_o"), col("sum_p")),
      "status_col",
      "sum_price"
    )
  }

  private val qUnpivotSql =
    """SELECT o_orderpriority, 'sum_f' AS status_col,
      |  coalesce(CAST(round(sum(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE), 0.0) AS sum_price
      |FROM orders GROUP BY o_orderpriority
      |UNION ALL
      |SELECT o_orderpriority, 'sum_o' AS status_col,
      |  coalesce(CAST(round(sum(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE), 0.0) AS sum_price
      |FROM orders GROUP BY o_orderpriority
      |UNION ALL
      |SELECT o_orderpriority, 'sum_p' AS status_col,
      |  coalesce(CAST(round(sum(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE), 0.0) AS sum_price
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // ----------------------------------------------------- value-RANGE frame

  /** For each high-value order: the sum and count of same-priority orders
    * priced within $1000 below it. A value-RANGE frame (peers included by
    * value, not position), ordered on exact integer cents — `floor(x*100
    * + 0.5)` per the cross-engine cast rule, since Spark truncates and
    * DuckDB rounds fractional casts. Deterministic under price ties
    * because RANGE frames aggregate all peers regardless of their order.
    */
  private def qRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("cents"))
      .rangeBetween(-100000L, Window.currentRow)
    orders(s, dir)
      .filter(col("o_totalprice") > 400000)
      .withColumn("cents", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
      .withColumn("nearby_sum", round(sum(dec2(col("o_totalprice"))).over(w), 2).cast("double"))
      .withColumn("n_nearby", count(lit(1)).over(w))
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"), col("nearby_sum"), col("n_nearby"))
  }

  private val qRangeFrameSql =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w, 2) AS DOUBLE) AS nearby_sum,
      |  count(*) OVER w AS n_nearby
      |FROM (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |      FROM orders WHERE o_totalprice > 400000)
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY cents
      |             RANGE BETWEEN 100000 PRECEDING AND CURRENT ROW)""".stripMargin

  // ------------------------------------------------- relative-rank windows

  /** percent_rank and cume_dist of account balance within each market
    * segment. Both are exact small-integer ratios evaluated in double —
    * bit-equal across engines with no rounding needed — and tie-stable
    * (ties share a rank / cumulative count), so no tie-break column is
    * required for determinism.
    */
  private def qPercentRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"))
    customer(s, dir)
      .filter(col("c_acctbal") > 7000)
      .select(
        col("c_custkey"),
        col("c_mktsegment"),
        col("c_acctbal"),
        percent_rank().over(w).as("bal_pct_rank"),
        cume_dist().over(w).as("bal_cume_dist")
      )
  }

  private val qPercentRankSql =
    """SELECT c_custkey, c_mktsegment, c_acctbal,
      |  percent_rank() OVER w AS bal_pct_rank,
      |  cume_dist() OVER w AS bal_cume_dist
      |FROM customer WHERE c_acctbal > 7000
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)""".stripMargin

  // ------------------------------------------------------- bigram top-k

  /** Top-20 word bigrams across the corpus. Reuses the codegen'd
    * WordKGrams expression (one pass, no interpreted lambda per shingle);
    * docs with fewer than two tokens are excluded up front so the
    * short-doc whole-text fallback never fires. One explode + one hash
    * aggregation; the top-k is a 20-row sort after the count shuffle.
    */
  private def textNgramFreq(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .filter(size(TextAnalysis.tokens(col("text"))) >= 2)
      .select(explode(TextAnalysis.wordShingles(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(20)

  private val textNgramFreqSql =
    """WITH toks AS (
      |  SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      |  FROM documents
      |  WHERE len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) >= 2
      |)
      |SELECT bigram, count(*) AS cnt
      |FROM toks, UNNEST(list_transform(range(2, len(w) + 1), i -> w[i - 1] || ' ' || w[i])) AS t(bigram)
      |GROUP BY bigram
      |ORDER BY cnt DESC, bigram ASC LIMIT 20""".stripMargin

  // ------------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_unpivot", Seq("B12"), qUnpivot, qUnpivotSql),
    QuerySpec("q_range_frame", Seq("B11"), qRangeFrame, qRangeFrameSql),
    QuerySpec("q_percent_rank", Seq("B11"), qPercentRank, qPercentRankSql),
    QuerySpec("text_ngram_freq", Seq("B13"), textNgramFreq, textNgramFreqSql)
  )
}
