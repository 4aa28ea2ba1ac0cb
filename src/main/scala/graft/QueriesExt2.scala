package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.dec2

/** Third query batch: SQL front door, cube/pivot, JSON extraction,
  * moment-statistics with exact-decimal components, percentile, sliding
  * windows, regex tokenization, sign-bucket ANN. Same parity rules as
  * SparkEntry.
  *
  * Statistics note: stddev/corr are NOT computed with Spark's built-in
  * aggregates (streaming Welford updates are partition-order dependent in
  * the low bits); they are assembled from exact DECIMAL component sums
  * (n, Σx, Σx², Σxy) with the identical closed formula on both engines —
  * deterministic to the last bit before round().
  */
object QueriesExt2 {

  // ------------------------------------------------------------ SQL surface

  /** TPC-H Q4-shaped query through the SQL front door (temp views +
    * spark.sql) — the engine's SQL API is first-class, not just the
    * DataFrame DSL.
    */
  private def qSqlQ4(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir).createOrReplaceTempView("orders_v")
    lineitem(s, dir).createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders_v
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem_v
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin
    )
  }

  private val qSqlQ4Sql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------- cube/pivot

  private def qCube(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), round(sum(dec2(col("o_totalprice"))), 2).cast("double").as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"),
        col("sum_price")
      )

  private val qCubeSql =
    """SELECT coalesce(o_orderstatus,'ALL') AS status, coalesce(o_orderpriority,'ALL') AS priority,
      |  count(*) AS n_orders,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  private def qPivot(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum(dec2(col("o_totalprice"))), 2).cast("double"))
      .select(
        col("o_orderpriority"),
        coalesce(col("F"), lit(0.0)).as("sum_f"),
        coalesce(col("O"), lit(0.0)).as("sum_o"),
        coalesce(col("P"), lit(0.0)).as("sum_p")
      )

  private val qPivotSql =
    """SELECT o_orderpriority,
      |  coalesce(CAST(round(sum(CASE WHEN o_orderstatus='F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE), 0.0) AS sum_f,
      |  coalesce(CAST(round(sum(CASE WHEN o_orderstatus='O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE), 0.0) AS sum_o,
      |  coalesce(CAST(round(sum(CASE WHEN o_orderstatus='P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE), 0.0) AS sum_p
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------------ JSON

  private def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).cast("long").as("sum_k"),
        max(col("k")).as("max_k"),
        min(col("k")).as("min_k")
      )

  private val qJsonExtractSql =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  max(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS max_k,
      |  min(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS min_k
      |FROM events GROUP BY event_type""".stripMargin

  // ------------------------------------------------------------ statistics

  /** Mean/stddev/corr from exact decimal component sums — see object doc. */
  private def qStatsFormula(s: SparkSession, dir: String): DataFrame = {
    val x  = dec2(col("l_extendedprice"))
    val y  = dec2(col("l_quantity"))
    lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"),
        sum(x * x).as("sxx"),
        sum(y).as("sy"),
        sum(y * y).as("syy"),
        sum(x * y).as("sxy")
      )
      .select(
        col("l_returnflag"),
        col("n"),
        round(col("sx").cast("double") / col("n"), 6).as("mean_price"),
        round(
          sqrt(
            (col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / col("n")) /
              (col("n") - 1)
          ),
          6
        ).as("stddev_price"),
        round(
          (col("n") * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("n") * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")) *
              sqrt(col("n") * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double"))),
          6
        ).as("corr_price_qty")
      )
  }

  private val qStatsFormulaSql =
    """WITH c AS (SELECT l_returnflag, count(*) AS n,
      |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sx,
      |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxx,
      |  sum(CAST(l_quantity AS DECIMAL(18,2))) AS sy,
      |  sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS syy,
      |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round(CAST(sx AS DOUBLE) / n, 6) AS mean_price,
      |  round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)), 6) AS stddev_price,
      |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr_price_qty
      |FROM c""".stripMargin

  private def qMedian(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("median_price"),
        expr("percentile(o_totalprice, 0.9)").as("p90_price")
      )
      .select(
        col("o_orderstatus"),
        round(col("median_price"), 4).as("median_price"),
        round(col("p90_price"), 4).as("p90_price")
      )

  private val qMedianSql =
    """SELECT o_orderstatus,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
      |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  // ------------------------------------------------------- sliding windows

  private def eventsSliding(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"),
        col("n_events")
      )

  private val eventsSlidingSql =
    """SELECT epoch_ms(date_trunc('hour', ts)) - h*3600000 AS window_start_ms,
      |  event_type, count(*) AS n_events
      |FROM events, range(0,2) t(h)
      |GROUP BY 1, 2""".stripMargin

  // ----------------------------------------------------- regex tokenization

  /** BPE-ish sub-word tokenization: alpha runs, digit runs, single
    * punctuation — the shape of a byte-pair pre-tokenizer, as a codegen'd
    * regexp over the normalized text.
    */
  private def textBpeTokens(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .withColumn("toks", expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_bpe_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_bpe")
      )

  private val textBpeTokensSql =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
      |  CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS n_distinct_bpe
      |FROM documents""".stripMargin

  // ------------------------------------------------- sign-bucket ANN (B4)

  private def simAnnSignBucket(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = embeddings(s, dir)
      .withColumn("sbucket", Similarity.signBucket(col("embedding"), 8))
    Similarity.bucketedTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", "sbucket", k = 3)
  }

  private val simAnnSignBucketSql = {
    val bucket = (0 until 8)
      .map(i => s"CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, ($bucket) AS sbucket FROM embeddings),
       |q AS (SELECT * FROM v WHERE vec_id < 10),
       |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |    round(list_cosine_similarity(q.e, c.e), 6) AS cosine
       |  FROM q JOIN v c ON c.sbucket = q.sbucket AND c.vec_id != q.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, corpus_id, cosine, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 3""".stripMargin
  }

  // ------------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_sql_q4", Seq("B8"), qSqlQ4, qSqlQ4Sql),
    QuerySpec("q_cube_status", Seq("B12"), qCube, qCubeSql),
    QuerySpec("q_pivot_status", Seq("B12"), qPivot, qPivotSql),
    QuerySpec("q_json_extract", Seq("B8"), qJsonExtract, qJsonExtractSql),
    QuerySpec("q_stats_formula", Seq("B8"), qStatsFormula, qStatsFormulaSql),
    QuerySpec("q_median_price", Seq("B8"), qMedian, qMedianSql),
    QuerySpec("events_sliding_2h", Seq("B7"), eventsSliding, eventsSlidingSql),
    QuerySpec("text_bpe_tokens", Seq("B26"), textBpeTokens, textBpeTokensSql),
    QuerySpec("sim_ann_signbucket", Seq("B4"), simAnnSignBucket, simAnnSignBucketSql)
  )
}
