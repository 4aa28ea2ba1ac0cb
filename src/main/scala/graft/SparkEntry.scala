package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._
import graft.Parity.{dec2, tsLit}
import graft.cdc.Envelope
import graft.enrich.Enrichment

/** One registered query: its name, the SURVEY.md §2 ids it covers, its
  * Spark builder and the DuckDB oracle SQL the driver hash-compares it
  * against. Each registry object declares its queries once, as a `specs`
  * list at the bottom of the object (object vals initialise in textual
  * order, so a list above the `…Sql` strings would capture nulls).
  */
final case class QuerySpec(
    name: String,
    surveyIds: Seq[String],
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** Driver contract (see repo README): `queries` = one deterministic batch
  * query per implemented operator from SURVEY.md §2; `oracleSql` = the
  * DuckDB-equivalent SQL the driver hash-compares against at sf0.01. Both
  * are views of `registry`, the single list of [[QuerySpec]]s.
  *
  * Parity rules used throughout (so the independent oracle reproduces
  * results bit-for-bit):
  *  - every aggregate/computed column is aliased identically in both forms;
  *  - doubles are round()ed (money 2, ratios/avgs 6);
  *  - timestamps are emitted as epoch milliseconds (unix_millis /
  *    epoch_ms) — the events fixture is ns-precision, Spark is µs;
  *  - sums over integers are cast to BIGINT (DuckDB widens to HUGEINT);
  *  - window ranks are cast to BIGINT (Spark row_number is INT).
  */
object SparkEntry {

  /** Flagship query on sf0.001 — the Q3-shaped join+agg+topk. */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_shipping_priority")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- helpers

  // round BEFORE the double cast: round(DECIMAL) is exact HALF_UP in both
  // engines, while round(DOUBLE) differs (Spark rounds the shortest decimal
  // repr, DuckDB the binary value — .595 → .60 vs .59).
  private def decSum(c: org.apache.spark.sql.Column) = round(sum(c), 2).cast("double")
  private def decAvg(c: org.apache.spark.sql.Column) =
    round(sum(dec2(c)).cast("double") / count(lit(1)), 6)

  // ------------------------------------------------------- relational (B8)

  /** Money math in exact long-cents instead of a DECIMAL multiply chain.
    *
    * The straightforward `DECIMAL(18,2)` formulation multiplies
    * (18,2)×(18,2)→(37,4)→(38,6) per row — past Spark's compact-long
    * decimal range, so every product allocates a BigDecimal in the agg
    * kernel. Because the inputs are 2-decimal quantities, the same exact
    * rationals are reachable in integer cents/basis-points:
    * `P·(100−D)·(100+T)` (units of 10⁻⁶ dollars) with plain codegen'd
    * long multiplies, summed as DECIMAL(38,0) whose per-value magnitudes
    * stay compact-long; one exact power-of-ten rescale per OUTPUT row (6
    * rows) restores dollars. Equivalence to the oracle's decimal SQL is
    * exact: cast-to-(18,2) = round-to-cents, products/sums are the same
    * integers, and the final HALF_UP round sees identical rationals.
    * round(x·100) is safe: 2-decimal doubles land within 1e-10 of the
    * integer. The decimal-chain formulation stays in q2/q3 etc. where the
    * multiply runs once per row, not inside a 6-way aggregate over the
    * whole fact table.
    */
  private def q1(s: SparkSession, dir: String): DataFrame = {
    val P = round(col("l_extendedprice") * 100).cast("long") // cents
    val D = round(col("l_discount") * 100).cast("long")      // percent units
    val T = round(col("l_tax") * 100).cast("long")
    // exact rescale: integer sum of 10^-exp dollar units → dollars
    def dollars(sumCol: org.apache.spark.sql.Column, exp: Int): org.apache.spark.sql.Column =
      sumCol / lit(math.pow(10, exp).toLong)
    // sums carry DECIMAL(38,0): a raw long sum of the 10^-6-unit products
    // (per-row up to ~4e10) would overflow past ~2e8 rows — well inside
    // the 100 TB row count. Per-VALUE magnitudes stay in the compact-long
    // decimal range, so the adds never touch BigDecimal.
    def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = sum(c.cast("decimal(38,0)"))
    lineitem(s, dir)
      .filter(col("l_shipdate") <= tsLit("2000-12-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        dsum(P).as("cents"),
        dsum(P * (lit(100L) - D)).as("disc4"),
        dsum(P * (lit(100L) - D) * (lit(100L) + T)).as("charge6"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        dsum(D).as("disc_cents"),
        count(lit(1)).as("count_order")
      )
      .select(
        col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        round(dollars(col("cents"), 2), 2).cast("double").as("sum_base_price"),
        round(dollars(col("disc4"), 4), 2).cast("double").as("sum_disc_price"),
        round(dollars(col("charge6"), 6), 2).cast("double").as("sum_charge"),
        col("avg_qty"),
        round(dollars(col("cents"), 2).cast("double") / col("count_order"), 6).as("avg_price"),
        round(dollars(col("disc_cents"), 2).cast("double") / col("count_order"), 6).as("avg_disc"),
        col("count_order")
      )
  }

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_charge,
      |  round(avg(l_quantity), 6) AS avg_qty,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
      |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  private def q2(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(
        col("l_shipdate") >= tsLit("1997-01-01") && col("l_shipdate") < tsLit("1997-03-01") &&
          col("l_quantity") < 5
      )
      .select(
        col("l_orderkey"),
        col("l_partkey"),
        col("l_quantity"),
        // per-row money math also goes through DECIMAL: round(double, 2)
        // diverges between engines on .xx5 boundaries (3 rows at sf0.1)
        round(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))), 2)
          .cast("double").as("net_price")
      )

  private val q2Sql =
    """SELECT l_orderkey, l_partkey, l_quantity,
      |  CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS net_price
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-03-01'
      |  AND l_quantity < 5""".stripMargin

  private def q3(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .join(orders(s, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < tsLit("1998-06-30"))
      .join(lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > tsLit("1998-06-30"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(decSum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))).as("revenue"))
      .select(
        col("l_orderkey"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
        col("o_orderpriority"),
        col("revenue")
      )
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)

  private val q3Sql =
    """SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms, o_orderpriority,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-30' AND l_shipdate > TIMESTAMP '1998-06-30'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin

  private def q5(s: SparkSession, dir: String): DataFrame =
    region(s, dir)
      .filter(col("r_name") === "ASIA")
      .join(nation(s, dir), col("r_regionkey") === col("n_regionkey"))
      .join(customer(s, dir), col("n_nationkey") === col("c_nationkey"))
      .join(orders(s, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= tsLit("1996-01-01") && col("o_orderdate") < tsLit("1997-01-01"))
      .join(lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(supplier(s, dir), col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(decSum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))).as("revenue"))

  private val q5Sql =
    """SELECT n_name, CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
      |FROM region JOIN nation ON r_regionkey = n_regionkey
      |  JOIN customer ON n_nationkey = c_nationkey
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name""".stripMargin

  private def q6(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(
        col("l_shipdate") >= tsLit("1996-01-01") && col("l_shipdate") < tsLit("1997-01-01") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 25
      )
      .agg(decSum(dec2(col("l_extendedprice")) * dec2(col("l_discount"))).as("revenue"))

  private val q6Sql =
    """SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 25""".stripMargin

  private def q10(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= tsLit("1996-01-01") && col("o_orderdate") < tsLit("1996-04-01"))
      .join(lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_returnflag") === "R")
      .join(nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(decSum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)

  private val q10Sql =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin

  private def qTopOrders(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_totalprice"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms")
      )

  private val qTopOrdersSql =
    """SELECT o_orderkey, o_custkey, o_totalprice, epoch_ms(o_orderdate) AS o_orderdate_ms
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin

  private def qDistinct(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_mktsegment"), col("n_name"))
      .distinct()

  private val qDistinctSql =
    """SELECT DISTINCT c_mktsegment, n_name
      |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin

  private def qWindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(s, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 2)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }

  private val qWindowRankSql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) WHERE rn <= 2""".stripMargin

  private def qRollup(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .join(orders(s, dir), col("c_custkey") === col("o_custkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(decSum(dec2(col("o_totalprice"))).as("sum_revenue"), count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region_name"),
        coalesce(col("n_name"), lit("ALL")).as("nation_name"),
        col("sum_revenue"),
        col("n_orders")
      )

  private val qRollupSql =
    """SELECT coalesce(r_name, 'ALL') AS region_name, coalesce(n_name, 'ALL') AS nation_name,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_revenue, count(*) AS n_orders
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  JOIN orders ON c_custkey = o_custkey
      |GROUP BY ROLLUP (r_name, n_name)""".stripMargin

  private def qSemiJoin(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(
        orders(s, dir).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"),
        "left_semi"
      )
      .select(col("c_custkey"), col("c_name"))

  private val qSemiJoinSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin

  private def qAntiJoin(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))

  private val qAntiJoinSql =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val cn = customer(s, dir).select(col("c_nationkey").as("nationkey")).distinct()
    val sn = supplier(s, dir).select(col("s_nationkey").as("nationkey")).distinct()
    cn.intersect(sn).withColumn("tag", lit("both"))
      .union(cn.except(sn).withColumn("tag", lit("cust_only")))
      .union(sn.except(cn).withColumn("tag", lit("supp_only")))
  }

  private val qSetOpsSql =
    """SELECT nationkey, 'both' AS tag FROM
      |  (SELECT DISTINCT c_nationkey AS nationkey FROM customer
      |   INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT nationkey, 'cust_only' AS tag FROM
      |  (SELECT DISTINCT c_nationkey AS nationkey FROM customer
      |   EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT nationkey, 'supp_only' AS tag FROM
      |  (SELECT DISTINCT s_nationkey AS nationkey FROM supplier
      |   EXCEPT SELECT DISTINCT c_nationkey FROM customer)""".stripMargin

  private def qBroadcastPart(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        decAvg(col("p_retailprice")).as("avg_retail"),
        count(lit(1)).as("n_items")
      )

  private val qBroadcastPartSql =
    """SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty,
      |  round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_retail, count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand""".stripMargin

  private def qCaseAgg(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).cast("long").as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).cast("long").as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).cast("long").as("n_p"),
        decAvg(col("o_totalprice")).as("avg_price")
      )

  private val qCaseAggSql =
    """SELECT o_orderpriority,
      |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  private def qStringFuncs(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(
        col("p_partkey"),
        upper(col("p_type")).as("u_type"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        lpad(col("p_size").cast("string"), 3, "0").as("size_pad")
      )

  private val qStringFuncsSql =
    """SELECT p_partkey, upper(p_type) AS u_type, substr(p_name, 1, 8) AS name_prefix,
      |  CAST(length(p_name) AS BIGINT) AS name_len,
      |  concat_ws('-', p_brand, p_type) AS brand_type,
      |  lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_pad
      |FROM part""".stripMargin

  private def qDateFuncs(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month")
      )
      .agg(count(lit(1)).as("n_orders"), decSum(dec2(col("o_totalprice"))).as("sum_price"))

  private val qDateFuncsSql =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
      |  count(*) AS n_orders, CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------- CDC (A/B)

  /** Shared oracle-side predicate for the synthesized envelope rules —
    * keep in sync with Envelope.synthesizeFromEvents.
    */
  private val cdcKeptSql =
    "event_id % 97 != 0 AND event_id % 89 != 0 AND event_id % 83 != 0"

  private def cdcExtracted(s: SparkSession, dir: String): DataFrame =
    Envelope.extractAfter(Envelope.synthesizeFromEvents(events(s, dir)))

  private val cdcExtractSql =
    s"""SELECT event_id AS id, user_id, event_type, value, epoch_ms(ts) AS ts_ms
       |FROM events WHERE $cdcKeptSql""".stripMargin

  private def cdcLatestWins(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.latestWins(cdcExtracted(s, dir), Seq("user_id"), Seq(col("ts_ms"), col("id")))

  private val cdcLatestWinsSql =
    s"""SELECT id, user_id, event_type, value, ts_ms FROM (
       |  SELECT event_id AS id, user_id, event_type, value, epoch_ms(ts) AS ts_ms,
       |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
       |  FROM events WHERE $cdcKeptSql) WHERE rn = 1""".stripMargin

  /** Lookup key mapping CDC user_ids into the customer dimension with a
    * deliberate miss band (user_id*13 > max custkey) to exercise the DLQ
    * branch like DlqPipelineIT does with a broken service URL.
    */
  private def cdcEnriched(s: SparkSession, dir: String): DataFrame = {
    val recs = cdcExtracted(s, dir).withColumn("lookup_key", col("user_id") * 13)
    Enrichment.enrich(recs, customer(s, dir), "lookup_key", "c_custkey")
  }

  private def cdcEnrichJoin(s: SparkSession, dir: String): DataFrame =
    Enrichment.branch(cdcEnriched(s, dir))._1
      .select(col("id"), col("user_id"), col("event_type"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))

  private val cdcEnrichJoinSql =
    s"""SELECT event_id AS id, user_id, event_type, c_name, c_acctbal, c_mktsegment
       |FROM events JOIN customer ON user_id * 13 = c_custkey
       |WHERE $cdcKeptSql""".stripMargin

  private def cdcEnrichDlq(s: SparkSession, dir: String): DataFrame =
    Enrichment.branch(cdcEnriched(s, dir))._2
      .select(col("id"), col("user_id"), col("event_type"), col("ts_ms"))

  private val cdcEnrichDlqSql =
    s"""SELECT event_id AS id, user_id, event_type, epoch_ms(ts) AS ts_ms
       |FROM events WHERE $cdcKeptSql
       |  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = user_id * 13)""".stripMargin

  private def cdcDedupExact(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.exact(cdcExtracted(s, dir), Seq("user_id", "event_type"), "id")
      .select(col("user_id"), col("event_type"), col("id"), col("ts_ms"))

  private val cdcDedupExactSql =
    s"""SELECT user_id, event_type, id, ts_ms FROM (
       |  SELECT user_id, event_type, event_id AS id, epoch_ms(ts) AS ts_ms,
       |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id ASC) AS rn
       |  FROM events WHERE $cdcKeptSql) WHERE rn = 1""".stripMargin

  // ------------------------------------------------------------- registry

  private val local: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing_summary", Seq("B8"), q1, q1Sql),
    QuerySpec("q2_filter_project", Seq("B8"), q2, q2Sql),
    QuerySpec("q3_shipping_priority", Seq("B8"), q3, q3Sql),
    QuerySpec("q5_local_supplier", Seq("B8"), q5, q5Sql),
    QuerySpec("q6_revenue_forecast", Seq("B8"), q6, q6Sql),
    QuerySpec("q10_returned_items", Seq("B8"), q10, q10Sql),
    QuerySpec("q_top_orders", Seq("B8"), qTopOrders, qTopOrdersSql),
    QuerySpec("q_distinct_pairs", Seq("B8"), qDistinct, qDistinctSql),
    QuerySpec("q_window_rank", Seq("B11"), qWindowRank, qWindowRankSql),
    QuerySpec("q_rollup_sales", Seq("B12"), qRollup, qRollupSql),
    QuerySpec("q_semi_join", Seq("B8"), qSemiJoin, qSemiJoinSql),
    QuerySpec("q_anti_join", Seq("B8"), qAntiJoin, qAntiJoinSql),
    QuerySpec("q_set_ops", Seq("B8"), qSetOps, qSetOpsSql),
    QuerySpec("q_broadcast_part", Seq("B8"), qBroadcastPart, qBroadcastPartSql),
    QuerySpec("q_case_agg", Seq("B8"), qCaseAgg, qCaseAggSql),
    QuerySpec("q_string_funcs", Seq("B8"), qStringFuncs, qStringFuncsSql),
    QuerySpec("q_date_funcs", Seq("B8"), qDateFuncs, qDateFuncsSql),
    QuerySpec("cdc_extract", Seq("A1", "A3", "A4"), cdcExtracted, cdcExtractSql),
    QuerySpec("cdc_latest_wins", Seq("B2"), cdcLatestWins, cdcLatestWinsSql),
    QuerySpec("cdc_enrich_join", Seq("A5", "A6"), cdcEnrichJoin, cdcEnrichJoinSql),
    QuerySpec("cdc_enrich_dlq", Seq("A7"), cdcEnrichDlq, cdcEnrichDlqSql),
    QuerySpec("cdc_dedup_exact", Seq("B1"), cdcDedupExact, cdcDedupExactSql)
  )

  /** Every registered query, each declared once by its owning object. */
  val registry: Seq[QuerySpec] = local ++ QueriesExt.specs ++ QueriesExt2.specs ++ QueriesExt3.specs ++ QueriesExt4.specs ++ QueriesExt5.specs ++ QueriesExt6.specs ++ QueriesExt7.specs ++ QueriesExt8.specs ++ QueriesExt9.specs ++ QueriesExt10.specs ++ QueriesExt11.specs ++ QueriesExt12.specs ++ QueriesExt13.specs ++ QueriesExt14.specs ++ QueriesExt15.specs ++ QueriesExt16.specs ++ QueriesExt17.specs ++ QueriesExt18.specs ++ QueriesExt19.specs ++ QueriesExt20.specs ++ QueriesExt21.specs ++ QueriesExt22.specs ++ QueriesExt23.specs ++ QueriesExt24.specs ++ QueriesExt25.specs ++ QueriesExt26.specs ++ QueriesExt27.specs ++ QueriesExt28.specs ++ QueriesExt29.specs ++ QueriesExt30.specs ++ QueriesExt31.specs ++ QueriesExt32.specs ++ QueriesExt33.specs ++ QueriesExt34.specs ++ QueriesExt35.specs ++ QueriesExt36.specs ++ QueriesExt37.specs ++ QueriesExt38.specs ++ QueriesExt39.specs ++ QueriesExt40.specs ++ QueriesExt41.specs ++ QueriesExt42.specs ++ QueriesExt43.specs ++ QueriesExt44.specs ++ QueriesExt45.specs ++ QueriesExt46.specs ++ QueriesExt47.specs ++ QueriesExt48.specs ++ QueriesExt49.specs ++ QueriesExt50.specs ++ QueriesExt51.specs ++ QueriesExt52.specs ++ QueriesExt53.specs ++ QueriesExt54.specs ++ QueriesExt55.specs ++ QueriesExt56.specs ++ QueriesExt57.specs ++ QueriesExt58.specs ++ QueriesExt59.specs ++ QueriesExt60.specs ++ QueriesExt61.specs ++ QueriesExt62.specs ++ QueriesExt63.specs ++ QueriesExt64.specs ++ QueriesExt65.specs ++ QueriesExt66.specs ++ QueriesExt67.specs ++ QueriesExt68.specs ++ QueriesExt69.specs ++ QueriesExt70.specs ++ QueriesExt71.specs ++ QueriesExt72.specs ++ QueriesExt73.specs ++ QueriesExt74.specs ++ QueriesExt75.specs ++ QueriesExt76.specs ++ QueriesExt77.specs ++ QueriesExt78.specs ++ QueriesExt79.specs ++ QueriesExt80.specs ++ QueriesExt81.specs ++ QueriesExt82.specs ++ QueriesExt83.specs ++ QueriesExt84.specs ++ QueriesExt85.specs ++ QueriesExt86.specs ++ QueriesExt87.specs ++ QueriesExt88.specs ++ QueriesExt89.specs ++ QueriesExt90.specs

  locally {
    val dups = registry.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"query names registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    val unmapped = registry.filter(_.surveyIds.isEmpty).map(_.name)
    require(unmapped.isEmpty, s"queries without a SURVEY id: ${unmapped.sorted.mkString(", ")}")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = registry.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap
}
