package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-7 additions, batch 10: process-conformance checking (B104),
  * script-mismatch auditing (B105), and signed-delta incremental view
  * maintenance (B106).
  */
object QueriesExt19 {

  // --------------------------- conformance checking (B104)

  /** Process-mining conformance: flag every adjacent event-type
    * transition that violates the declared process model (here: an
    * `error` must not be directly followed by a `purchase`, and a
    * `signup` must not immediately repeat) — the NORMATIVE counterpart
    * of B61's descriptive transition matrix, the audit that catches
    * clients skipping the declared flow. Violations carry both event
    * ids for the case-investigation drill-down.
    *
    * Scale shape: one per-user lag window (bounded by a user's history)
    * + a scan-side filter against the literal rule set — no joins, no
    * aggregation; output is violations-sized.
    */
  private def eventsConformance(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    events(s, dir)
      .select(
        col("user_id"), col("event_id"), col("event_type"),
        operators.EventAnalytics.tsMillis(col("ts")).as("ms")
      )
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_id", lag(col("event_id"), 1).over(w))
      .where(
        (col("prev_type") === "error" && col("event_type") === "purchase") ||
          (col("prev_type") === "signup" && col("event_type") === "signup")
      )
      .select(
        col("user_id"),
        col("prev_id"),
        col("event_id"),
        concat(col("prev_type"), lit(">"), col("event_type")).as("violation")
      )
  }

  private val eventsConformanceSql =
    """WITH l AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
      |    lag(event_type) OVER w AS prev_type,
      |    lag(event_id) OVER w AS prev_id
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id))
      |SELECT user_id, prev_id, event_id, prev_type || '>' || event_type AS violation
      |FROM l
      |WHERE (prev_type = 'error' AND event_type = 'purchase')
      |   OR (prev_type = 'signup' AND event_type = 'signup')""".stripMargin

  // --------------------------- script-mismatch audit (B105)

  /** Language/script consistency audit: count CJK codepoints per
    * document and flag documents whose declared language is NOT Chinese
    * but which contain CJK — the script-level mismatch detector that
    * catches mislabeled or concatenation-corrupted documents even when
    * B5's stopword-based langid is fooled. Mismatches are STAGED (every
    * 11th non-zh doc gets a CJK char spliced in) so both engines replay
    * wound and audit.
    *
    * Scale shape: pure codegen regexp count fused into the scan — no
    * UDF, no shuffle, no join.
    */
  private def textScriptMismatch(s: SparkSession, dir: String): DataFrame = {
    val wounded = when(
      col("doc_id") % 11 === 0 && col("lang") =!= "zh",
      concat(substring(col("text"), 1, 8), lit("中"), substring(col("text"), 9, 1000000))
    ).otherwise(col("text"))
    documents(s, dir)
      .select(col("doc_id"), col("lang"), wounded.as("t"))
      .select(
        col("doc_id"),
        col("lang"),
        size(regexp_extract_all(col("t"), lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
          .cast("long").as("n_cjk")
      )
      .withColumn("script_mismatch", col("lang") =!= "zh" && col("n_cjk") > 0)
  }

  private val textScriptMismatchSql =
    """WITH d AS (SELECT doc_id, lang,
      |    CASE WHEN doc_id % 11 = 0 AND lang != 'zh'
      |      THEN substr(text, 1, 8) || chr(20013) || substr(text, 9)
      |      ELSE text END AS t
      |  FROM documents)
      |SELECT doc_id, lang,
      |  CAST(len(regexp_extract_all(t, '[一-鿿]')) AS BIGINT) AS n_cjk,
      |  lang != 'zh' AND len(regexp_extract_all(t, '[一-鿿]')) > 0 AS script_mismatch
      |FROM d""".stripMargin

  // --------------------------- signed-delta IVM (B106)

  /** Incremental view maintenance with RETRACTIONS: a per-type
    * (net count, net sum) aggregate view maintained as BASE PARTIALS +
    * DELTA PARTIALS, where `error` rows carry sign −1 (upstream
    * deletions) and everything else +1 — the signed-merge contract that
    * lets a materialized aggregate absorb a change batch without
    * rescanning base data. The split is staged (event_id mod 10 picks
    * the delta batch); the ORACLE aggregates the full table directly
    * with the same signs, so parity proves base⊕delta ≡ full — the IVM
    * correctness condition, with deletions in play (B69 proved the
    * insert-only case).
    *
    * Scale shape: two disjoint scans collapse to types-sized partials
    * (map-side combined); the merge joins two tiny tables. A production
    * run reads only the delta — the base partial is the stored view.
    */
  private def qIvmDelta(s: SparkSession, dir: String): DataFrame = {
    def partial(df: DataFrame): DataFrame =
      df.select(
          col("event_type"),
          when(col("event_type") === "error", lit(-1L)).otherwise(lit(1L)).as("sign"),
          col("value").cast("decimal(18,2)").as("v")
        )
        .groupBy("event_type")
        .agg(sum(col("sign")).as("n_net"), sum(col("sign") * col("v")).as("sv_net"))
    val base  = partial(events(s, dir).where(col("event_id") % 10 =!= 0))
    val delta = partial(events(s, dir).where(col("event_id") % 10 === 0))
    base
      .select(col("event_type"), col("n_net").as("n_b"), col("sv_net").as("sv_b"))
      .join(
        delta.select(col("event_type"), col("n_net").as("n_d"), col("sv_net").as("sv_d")),
        Seq("event_type"),
        "full_outer"
      )
      .select(
        col("event_type"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n_net"),
        round(coalesce(col("sv_b"), lit(0).cast("decimal(18,2)")) +
          coalesce(col("sv_d"), lit(0).cast("decimal(18,2)")), 2).cast("double").as("sum_net")
      )
  }

  private val qIvmDeltaSql =
    """SELECT event_type,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END) AS BIGINT) AS n_net,
      |  CAST(round(sum((CASE WHEN event_type = 'error' THEN -1 ELSE 1 END)
      |    * CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_net
      |FROM events GROUP BY 1""".stripMargin

  // --------------------------- referential-integrity audit (B107)

  /** Whole-schema FK audit in one result: for each foreign-key edge
    * (lineitem→orders, lineitem→part, orders→customer), the child rows
    * with no parent (orphans) AND the parents with no children — the
    * both-directions referential report a warehouse runs after every
    * load (the multi-edge generalization of B33's single orphan rule).
    * NOT EXISTS semantics on both sides pin null behavior.
    *
    * Scale shape: each direction is one anti-join on the FK key (the
    * child side map-side deduped first where the parent check only
    * needs distinct keys); results collapse to a 3-row audit table.
    */
  private def qFkAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def edge(name: String, child: DataFrame, ck: String, parent: DataFrame, pk: String) = {
      val orphans = child
        .join(parent.select(col(pk)), child(ck) === parent(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphan_children"))
      val childless = parent
        .join(child.select(col(ck)).distinct(), child(ck) === parent(pk), "left_anti")
        .agg(count(lit(1)).as("n_childless_parents"))
      orphans.crossJoin(childless).select(lit(name).as("fk_edge"), col("n_orphan_children"), col("n_childless_parents"))
    }
    edge("lineitem->orders", lineitem(s, dir), "l_orderkey", orders(s, dir), "o_orderkey")
      .unionByName(edge("lineitem->part", lineitem(s, dir), "l_partkey", part(s, dir), "p_partkey"))
      .unionByName(edge("orders->customer", orders(s, dir), "o_custkey", customer(s, dir), "c_custkey"))
  }

  private val qFkAuditSql =
    """SELECT 'lineitem->orders' AS fk_edge,
      |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphan_children,
      |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
      |    (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) AS n_childless_parents
      |UNION ALL
      |SELECT 'lineitem->part',
      |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |    (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
      |  (SELECT count(*) FROM part p WHERE NOT EXISTS
      |    (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey))
      |UNION ALL
      |SELECT 'orders->customer',
      |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
      |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
      |    (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))""".stripMargin

  // --------------------------- join-cardinality estimator audit (B108)

  /** Optimizer-statistics validation: estimate |orders ⋈ lineitem| from
    * 64-bucket hashed key histograms (Σ_b cntA(b)·cntB(b) — exactly what
    * a cost model does with equi-width histograms) and compare against
    * the TRUE join cardinality, reporting the over-estimate in ppm.
    * Hash-bucket collisions inflate the estimate by a predictable
    * amount; watching that error is how you decide whether histogram
    * resolution is adequate before trusting a join plan. All integers.
    *
    * Scale shape: two map-side-combined bucket histograms (64 rows
    * each) + one bucket equi-join for the estimate; the true
    * cardinality is one equi-join count — the expensive part any
    * validation run pays once.
    */
  private def qJoinEstimate(s: SparkSession, dir: String): DataFrame = {
    val bucket = (c: org.apache.spark.sql.Column) =>
      graft.functions.Hashing.h32(c.cast("string")) % 64
    val ha = orders(s, dir).groupBy(bucket(col("o_orderkey")).as("b")).agg(count(lit(1)).as("ca"))
    val hb = lineitem(s, dir).groupBy(bucket(col("l_orderkey")).as("b")).agg(count(lit(1)).as("cb"))
    val est = ha
      .join(hb, "b")
      .agg(sum(col("ca") * col("cb")).as("est_rows"))
    val actual = orders(s, dir)
      .join(lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("true_rows"))
    est
      .crossJoin(actual)
      .select(
        col("est_rows"),
        col("true_rows"),
        expr(
          """CAST((CAST(est_rows AS DECIMAL(38,0)) - true_rows) * 1000000
            |  div CAST(true_rows AS DECIMAL(38,0)) AS BIGINT)""".stripMargin
        ).as("overestimate_ppm")
      )
  }

  private val qJoinEstimateSql =
    """WITH ha AS (SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 64 AS b,
      |    count(*) AS ca FROM orders GROUP BY 1),
      |hb AS (SELECT CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 64 AS b,
      |    count(*) AS cb FROM lineitem GROUP BY 1),
      |est AS (SELECT CAST(sum(ca * cb) AS BIGINT) AS est_rows FROM ha JOIN hb USING (b)),
      |act AS (SELECT count(*) AS true_rows FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
      |SELECT est_rows, true_rows,
      |  CAST((est_rows - true_rows) * 1000000 // true_rows AS BIGINT) AS overestimate_ppm
      |FROM est CROSS JOIN act""".stripMargin

  // --------------------------- discount-response slope (B109)

  /** Price-response analytics: per part brand, the OLS slope of ordered
    * quantity against the discount percentage — "how much more do
    * customers buy per discount point" — B67's exact-integer regression
    * kernel applied across a dimension join (discount in integer percent
    * units, quantity integral, slope in quantity-ppm per percent).
    *
    * Scale shape: one broadcast part-dim join feeding a (brand, pct)
    * hash-agg with a bounded domain (brands × 11 discount levels); OLS
    * sums aggregate that tiny table. The fact table is touched once.
    */
  private def qDiscountResponse(s: SparkSession, dir: String): DataFrame = {
    val daily = lineitem(s, dir)
      .join(broadcast(part(s, dir).select(col("p_partkey"), col("p_brand"))), col("l_partkey") === col("p_partkey"))
      .groupBy(
        col("p_brand"),
        round(col("l_discount") * 100).cast("long").as("pct")
      )
      .agg(sum(col("l_quantity").cast("long")).as("qty"), count(lit(1)).as("n_rows"))
      .select(col("p_brand"), col("pct"), expr("CAST(qty * 1000 div n_rows AS BIGINT)").as("y"))
    daily
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_pts"),
        sum(col("pct")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("pct") * col("y")).as("sxy"),
        sum(col("pct") * col("pct")).as("sxx")
      )
      .where(col("n_pts") >= 3)
      .select(
        col("p_brand"),
        col("n_pts"),
        expr("CAST(((n_pts * sxy - sx * sy) * 1000) div (n_pts * sxx - sx * sx) AS BIGINT)")
          .as("slope_milli")
      )
  }

  private val qDiscountResponseSql =
    """WITH daily AS (SELECT p_brand, CAST(round(l_discount * 100) AS BIGINT) AS pct,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) * 1000 // count(*) AS BIGINT) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |c AS (SELECT p_brand, count(*) AS n_pts,
      |    CAST(sum(pct) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(pct * y) AS BIGINT) AS sxy, CAST(sum(pct * pct) AS BIGINT) AS sxx
      |  FROM daily GROUP BY 1 HAVING count(*) >= 3)
      |SELECT p_brand, n_pts,
      |  CAST(((n_pts * sxy - sx * sy) * 1000) // (n_pts * sxx - sx * sx) AS BIGINT) AS slope_milli
      |FROM c""".stripMargin

  // --------------------------- rising-entrants ranking delta (B110)

  /** Rank-delta mining: parts in the LATEST year's revenue top-50 that
    * were absent from the PREVIOUS year's — the "rising stars" feed a
    * merchandising/trending pipeline publishes, computed as a set
    * difference of two bounded ranked lists rather than a full rank
    * join. Revenue is exact cents.
    *
    * Scale shape: each year's list is a bounded-heap TopKBy over a
    * year-filtered scan (50 rows per partition cross the shuffle, B11's
    * primitive); the entrant check is an anti-join of one 50-row list
    * against the other — constant-size work after the aggregates.
    */
  private def qRisingParts(s: SparkSession, dir: String): DataFrame = {
    def topYear(y: Int) =
      lineitem(s, dir)
        .where(year(col("l_shipdate").cast("date")) === y)
        .groupBy("l_partkey")
        .agg(expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)").as("rev_cents"))
        .agg(graft.functions.TopKBy.topKByLong(col("rev_cents").cast("double"), col("l_partkey"), 50).as("top"))
        .select(posexplode(col("top")))
        .select((col("pos") + 1).cast("long").as("rank"), col("col.id").as("l_partkey"),
          col("col.score").cast("long").as("rev_cents"))
    val cur  = topYear(1997)
    val prev = topYear(1996)
    cur
      .join(prev.select(col("l_partkey")), Seq("l_partkey"), "left_anti")
      .select(col("l_partkey"), col("rank"), col("rev_cents"))
  }

  private val qRisingPartsSql =
    """WITH cur AS (SELECT l_partkey, rank, rev_cents FROM (
      |    SELECT l_partkey,
      |      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_cents,
      |      CAST(row_number() OVER (ORDER BY CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) DESC, l_partkey) AS BIGINT) AS rank
      |    FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1997 GROUP BY l_partkey)
      |  WHERE rank <= 50),
      |prev AS (SELECT l_partkey FROM (
      |    SELECT l_partkey,
      |      row_number() OVER (ORDER BY CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) DESC, l_partkey) AS rank
      |    FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1996 GROUP BY l_partkey)
      |  WHERE rank <= 50)
      |SELECT l_partkey, rank, rev_cents FROM cur
      |WHERE NOT EXISTS (SELECT 1 FROM prev WHERE prev.l_partkey = cur.l_partkey)""".stripMargin

  // --------------------------- user-level cluster holdout (B111)

  /** Cluster sampling at the unit of analysis: hold out ~20 % of USERS
    * (md5 assignment) and keep ALL their events — the holdout a
    * behavioral model needs, because row-level sampling (B16) biases
    * within-user sequences. Reports per-type event rates in the holdout
    * vs the full population (both ppm) and their gap — the
    * representativeness check on the sample.
    *
    * Scale shape: assignment is scan-fused hashing (no user-table join);
    * both rate tables are types-sized map-side-combined hash-aggs; the
    * comparison joins two tiny tables.
    */
  private def eventsUserHoldout(s: SparkSession, dir: String): DataFrame = {
    val inHoldout = graft.functions.Hashing.h32(col("user_id").cast("string")) % 5 === 0
    val e = events(s, dir).select(col("event_type"), inHoldout.as("held"))
    val hold = e.where(col("held")).groupBy("event_type").agg(count(lit(1)).as("n_hold"))
    val full = e.groupBy("event_type").agg(count(lit(1)).as("n_full"))
    val totH = hold.agg(sum("n_hold").as("t_hold"))
    val totF = full.agg(sum("n_full").as("t_full"))
    hold
      .join(full, Seq("event_type"))
      .crossJoin(totH)
      .crossJoin(totF)
      .select(
        col("event_type"),
        col("n_hold"),
        col("n_full"),
        expr("CAST(n_hold * 1000000 div t_hold AS BIGINT)").as("hold_share_ppm"),
        expr("CAST(n_full * 1000000 div t_full AS BIGINT)").as("full_share_ppm"),
        expr("CAST(abs(n_hold * 1000000 div t_hold - n_full * 1000000 div t_full) AS BIGINT)")
          .as("gap_ppm")
      )
  }

  private val eventsUserHoldoutSql =
    """WITH e AS (SELECT event_type,
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 5 = 0 AS held
      |  FROM events),
      |hold AS (SELECT event_type, count(*) AS n_hold FROM e WHERE held GROUP BY 1),
      |fl AS (SELECT event_type, count(*) AS n_full FROM e GROUP BY 1),
      |th AS (SELECT CAST(sum(n_hold) AS BIGINT) AS t_hold FROM hold),
      |tf AS (SELECT CAST(sum(n_full) AS BIGINT) AS t_full FROM fl)
      |SELECT event_type, n_hold, n_full,
      |  CAST(n_hold * 1000000 // t_hold AS BIGINT) AS hold_share_ppm,
      |  CAST(n_full * 1000000 // t_full AS BIGINT) AS full_share_ppm,
      |  CAST(abs(n_hold * 1000000 // t_hold - n_full * 1000000 // t_full) AS BIGINT) AS gap_ppm
      |FROM hold JOIN fl USING (event_type) CROSS JOIN th CROSS JOIN tf""".stripMargin

  // --------------------------- Benford first-digit audit (B112)

  /** Fraud-screening statistics: the first-significant-digit
    * distribution of order totals against Benford's law — natural
    * multiplicative amounts follow log10(1+1/d); fabricated or
    * threshold-gamed figures don't. Expected shares are ppm LITERALS
    * (the only place a log appears, precomputed), observed shares and
    * deviations are pure integer arithmetic.
    *
    * Scale shape: first digit is a scan-fused string op; one 9-row
    * hash-agg + 1-row total broadcast. Cost is one scan of the column.
    */
  private def qBenfordAudit(s: SparkSession, dir: String): DataFrame = {
    val benford = Seq(
      (1, 301030L), (2, 176091L), (3, 124939L), (4, 96910L), (5, 79181L),
      (6, 66947L), (7, 57992L), (8, 51153L), (9, 45757L)
    )
    import s.implicits._
    val exp = benford.toDF("digit", "benford_ppm").withColumn("digit", col("digit").cast("long"))
    val obs = orders(s, dir)
      .select(substring(col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
    val tot = obs.agg(sum("n").as("total"))
    obs
      .join(broadcast(exp), Seq("digit"))
      .crossJoin(tot)
      .select(
        col("digit"),
        col("n"),
        expr("CAST(n * 1000000 div total AS BIGINT)").as("obs_ppm"),
        col("benford_ppm"),
        expr("CAST(abs(n * 1000000 div total - benford_ppm) AS BIGINT)").as("dev_ppm")
      )
  }

  private val qBenfordAuditSql =
    """WITH exp(digit, benford_ppm) AS (VALUES
      |  (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
      |  (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
      |obs AS (SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
      |    count(*) AS n
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs)
      |SELECT obs.digit, n,
      |  CAST(n * 1000000 // total AS BIGINT) AS obs_ppm,
      |  CAST(benford_ppm AS BIGINT) AS benford_ppm,
      |  CAST(abs(n * 1000000 // total - benford_ppm) AS BIGINT) AS dev_ppm
      |FROM obs JOIN exp ON obs.digit = exp.digit CROSS JOIN tot""".stripMargin

  // --------------------------- LTV cohort triangle (B113)

  /** Lifetime-value triangle: users cohorted by first-activity week,
    * purchase revenue accumulated per (cohort, age-week) cell, and the
    * cumulative cents-per-user curve along each cohort row — the LTV
    * readout that prices acquisition (the VALUE-based sibling of B7's
    * activity retention). Exact integer cents; per-user division is
    * integer floor.
    *
    * Scale shape: per-user firsts are one min-agg; cohort sizes and
    * cell revenues are map-side-combined hash-aggs joined on the user's
    * cohort assignment; the cumulative window runs over the
    * weeks×weeks TRIANGLE, never the event log.
    */
  private def eventsLtvTriangle(s: SparkSession, dir: String): DataFrame = {
    val dayCol = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long")
    val e = events(s, dir).select(
      col("user_id"), col("event_type"), dayCol.as("day_idx"),
      col("value").cast("decimal(18,2)").as("v")
    )
    val firsts = e.groupBy("user_id").agg(expr("CAST(min(day_idx) div 7 AS BIGINT)").as("cohort_week"))
    val sizes  = firsts.groupBy("cohort_week").agg(count(lit(1)).as("cohort_users"))
    val cells = e
      .where(col("event_type") === "purchase")
      .join(firsts, Seq("user_id"))
      .groupBy(col("cohort_week"), expr("CAST(day_idx div 7 AS BIGINT) - cohort_week").as("age_week"))
      .agg(expr("CAST(sum(v) * 100 AS BIGINT)").as("rev_cents"))
    val w = Window.partitionBy("cohort_week").orderBy("age_week")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("cum_rev_cents", sum("rev_cents").over(w))
      .select(
        col("cohort_week"), col("age_week"), col("cohort_users"),
        col("rev_cents"), col("cum_rev_cents"),
        expr("CAST(cum_rev_cents div cohort_users AS BIGINT)").as("cum_cents_per_user")
      )
  }

  private val eventsLtvTriangleSql =
    """WITH e AS (SELECT user_id, event_type,
      |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_idx,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events),
      |firsts AS (SELECT user_id, min(day_idx) // 7 AS cohort_week FROM e GROUP BY 1),
      |sizes AS (SELECT cohort_week, count(*) AS cohort_users FROM firsts GROUP BY 1),
      |cells AS (SELECT f.cohort_week, e.day_idx // 7 - f.cohort_week AS age_week,
      |    CAST(sum(v) * 100 AS BIGINT) AS rev_cents
      |  FROM e JOIN firsts f ON e.user_id = f.user_id
      |  WHERE event_type = 'purchase' GROUP BY 1, 2),
      |c2 AS (SELECT cells.*, sizes.cohort_users,
      |    CAST(sum(rev_cents) OVER (PARTITION BY cells.cohort_week ORDER BY age_week) AS BIGINT) AS cum_rev_cents
      |  FROM cells JOIN sizes ON cells.cohort_week = sizes.cohort_week)
      |SELECT cohort_week, age_week, cohort_users, rev_cents, cum_rev_cents,
      |  CAST(cum_rev_cents // cohort_users AS BIGINT) AS cum_cents_per_user
      |FROM c2""".stripMargin

  // --------------------------- skyline / Pareto frontier (B114)

  /** Preference query: the Pareto-optimal parts on (price LOW, size
    * HIGH) — no other part is at-most-as-expensive AND at-least-as-big
    * with one strict — the skyline operator of multi-criteria shortlist
    * UIs. NOT computed as the textbook O(n²) dominance anti-join: after
    * sorting by price, a part is on the frontier iff its size beats the
    * running max size over all STRICTLY cheaper parts (RANGE frame on
    * integer cents) and it carries its price level's max size — two
    * windows, O(n log n).
    *
    * Scale shape: the sort is over the parts DIMENSION (never a fact
    * table); both windows are one pass; the 2-attribute sort-and-sweep
    * is the standard distributed-skyline building block (per-partition
    * sweep + merge of local frontiers at higher dimensionality).
    */
  private def qSkyline(s: SparkSession, dir: String): DataFrame = {
    val base = part(s, dir).select(
      col("p_partkey"),
      expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("price_c"),
      col("p_size").cast("long").as("size")
    )
    val wLower = Window.partitionBy(expr("price_c % 1")).orderBy("price_c")
      .rangeBetween(Window.unboundedPreceding, -1)
    val wSame = Window.partitionBy("price_c")
    base
      .withColumn("max_sz_lower", max("size").over(wLower))
      .withColumn("max_sz_same", max("size").over(wSame))
      .where(
        (col("max_sz_lower").isNull || col("size") > col("max_sz_lower")) &&
          col("size") === col("max_sz_same")
      )
      .select(col("p_partkey"), col("price_c"), col("size"))
  }

  private val qSkylineSql =
    """WITH base AS (SELECT p_partkey,
      |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
      |    CAST(p_size AS BIGINT) AS size
      |  FROM part),
      |w AS (SELECT *,
      |    max(size) OVER (ORDER BY price_c RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_sz_lower,
      |    max(size) OVER (PARTITION BY price_c) AS max_sz_same
      |  FROM base)
      |SELECT p_partkey, price_c, size FROM w
      |WHERE (max_sz_lower IS NULL OR size > max_sz_lower) AND size = max_sz_same""".stripMargin

  // --------------------------- inter-arrival burstiness (B115)

  /** Traffic-shape diagnostics: per event type, the inter-arrival gap
    * distribution summarized as mean and squared coefficient of
    * variation (CoV² = n·Σg²/ (Σg)² − 1, in ppm) — CoV² ≈ 1 ppm-million
    * means Poisson-like arrivals, ≫ 1 means bursty traffic that needs
    * B101's rate limiting / B72's debounce in front of it. All moments
    * are exact integer sums; CoV² is one DECIMAL(38,0) division.
    *
    * Scale shape: gaps come from one per-type lag window ordered by
    * time (bounded per type-partition — the type cardinality is tiny and
    * a real deployment keys by (entity, type)); moments collapse to a
    * types-sized map-side-combined hash-agg.
    */
  private def eventsInterarrival(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("ms"), col("event_id"))
    events(s, dir)
      .select(
        col("event_type"), col("event_id"),
        operators.EventAnalytics.tsMillis(col("ts")).as("ms")
      )
      .withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
      .where(col("gap").isNotNull)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sg"),
        sum(col("gap") * col("gap")).as("sgg")
      )
      .select(
        col("event_type"),
        col("n_gaps"),
        expr("CAST(sg div n_gaps AS BIGINT)").as("mean_gap_ms"),
        expr(
          """CAST((CAST(n_gaps AS DECIMAL(38,0)) * sgg * 1000000)
            |  div (CAST(sg AS DECIMAL(38,0)) * sg) - 1000000 AS BIGINT)""".stripMargin
        ).as("cov2_ppm")
      )
  }

  private val eventsInterarrivalSql =
    """WITH g AS (SELECT event_type,
      |    ms - lag(ms) OVER (PARTITION BY event_type ORDER BY ms, event_id) AS gap
      |  FROM (SELECT event_type, event_id, epoch_ms(ts) AS ms FROM events)),
      |m AS (SELECT event_type, count(*) AS n_gaps,
      |    sum(gap) AS sg, sum(gap * gap) AS sgg
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
      |SELECT event_type, n_gaps,
      |  CAST(sg // n_gaps AS BIGINT) AS mean_gap_ms,
      |  CAST((n_gaps * sgg * 1000000) // (sg * sg) - 1000000 AS BIGINT) AS cov2_ppm
      |FROM m""".stripMargin

  // --------------------------- min-max pruning effectiveness (B116)

  /** Layout-quality quantification: simulate per-chunk min/max zone maps
    * for `l_shipdate` under two layouts — NATURAL insertion order
    * (chunks of orderkey ranges) vs DATE-CLUSTERED (chunks of day
    * ranges) — and report, for a one-quarter predicate, how many chunks
    * a min/max-pruning reader must open. This is the number that
    * justifies the z-order/sort maintenance job (B15): same data, same
    * predicate, ~an-order-of-magnitude fewer chunks touched when the
    * layout clusters the filter column.
    *
    * Scale shape: chunk assignment is scan-fused integer division (no
    * global sort — the clustered layout is simulated by keying chunks on
    * the date directly); per-chunk min/max are map-side-combined
    * hash-aggs; the overlap test and summary run over the chunk tables.
    */
  private def qMinmaxPruning(s: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("l_shipdate").cast("date"), lit("1995-01-01").cast("date")).cast("long")
    val base = lineitem(s, dir).select(col("l_orderkey"), day.as("day_idx"))
    val lo   = 730L
    val hi   = 820L
    def audit(layout: String, chunkCol: org.apache.spark.sql.Column) =
      base
        .groupBy(chunkCol.as("chunk"))
        .agg(min("day_idx").as("mn"), max("day_idx").as("mx"))
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("mx") >= lo && col("mn") <= hi, 1L).otherwise(0L)).as("n_hit")
        )
        .select(
          lit(layout).as("layout"),
          col("n_chunks"),
          col("n_hit"),
          expr("CAST(n_hit * 1000000 div n_chunks AS BIGINT)").as("hit_ppm")
        )
    audit("natural", expr("CAST(l_orderkey div 4000 AS BIGINT)"))
      .unionByName(audit("date_clustered", expr("CAST(day_idx div 60 AS BIGINT)")))
  }

  private val qMinmaxPruningSql =
    """WITH base AS (SELECT l_orderkey,
      |    CAST(datediff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS day_idx
      |  FROM lineitem),
      |nat AS (SELECT l_orderkey // 4000 AS chunk, min(day_idx) AS mn, max(day_idx) AS mx
      |  FROM base GROUP BY 1),
      |clu AS (SELECT day_idx // 60 AS chunk, min(day_idx) AS mn, max(day_idx) AS mx
      |  FROM base GROUP BY 1),
      |a AS (SELECT 'natural' AS layout, count(*) AS n_chunks,
      |    CAST(sum(CASE WHEN mx >= 730 AND mn <= 820 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit FROM nat),
      |b AS (SELECT 'date_clustered' AS layout, count(*) AS n_chunks,
      |    CAST(sum(CASE WHEN mx >= 730 AND mn <= 820 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit FROM clu)
      |SELECT layout, n_chunks, n_hit, CAST(n_hit * 1000000 // n_chunks AS BIGINT) AS hit_ppm FROM a
      |UNION ALL
      |SELECT layout, n_chunks, n_hit, CAST(n_hit * 1000000 // n_chunks AS BIGINT) AS hit_ppm FROM b""".stripMargin

  // --------------------------- RFM segmentation (B117)

  /** Marketing RFM: every customer scored 1–5 on Recency (days since
    * last order, lower = better), Frequency (order count), and Monetary
    * (lifetime cents), quintile boundaries computed with B53's
    * pure-integer inverted-CDF over BOUNDED histograms — then collapsed
    * to the classic segment labels (champion / loyal / at-risk / lost /
    * regular). The workhorse customer-base segmentation, exact in both
    * engines because no percentile is ever interpolated.
    *
    * Scale shape: one per-customer hash-agg builds (r, f, m); each
    * dimension's quintile thresholds come from a bounded-domain
    * histogram + cumulative window over that histogram (days / order
    * counts / whole-dollar buckets); the 12 threshold values broadcast
    * back onto the customer table. Customers never sort.
    */
  private def qRfmSegments(s: SparkSession, dir: String): DataFrame = {
    val anchor = lit("2001-09-01").cast("date")
    val rfm = orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(
        datediff(anchor, max(col("o_orderdate").cast("date"))).cast("long").as("r"),
        count(lit(1)).as("f"),
        expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) * 100").cast("long").as("m_cents")
      )
      .withColumn("m", expr("CAST(m_cents div 100 AS BIGINT)")) // whole dollars: bounded histogram domain
    def quintiles(dim: String, asc: Boolean) = {
      val hist = rfm.groupBy(dim).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col(dim) % 1).orderBy(if (asc) col(dim).asc else col(dim).desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("total", sum("cnt").over(Window.partitionBy(col(dim) % 1)))
      val qs = (1 to 4).map(q =>
        (if (asc) min(when(col("cum") * 5 >= col("total") * q, col(dim)))
         else max(when(col("cum") * 5 >= col("total") * q, col(dim)))).as(s"${dim}_q$q")
      )
      cum
        .groupBy(lit(1).as("g"))
        .agg(qs.head, qs.tail: _*)
        .drop("g")
    }
    // recency: LOWER is better → rank ascending gives best (score 5 = lowest r)
    val rq = quintiles("r", asc = true)
    val fq = quintiles("f", asc = true)
    val mq = quintiles("m", asc = true)
    def score(dim: String, invert: Boolean) = {
      val raw = when(col(dim) <= col(s"${dim}_q1"), 1L)
        .when(col(dim) <= col(s"${dim}_q2"), 2L)
        .when(col(dim) <= col(s"${dim}_q3"), 3L)
        .when(col(dim) <= col(s"${dim}_q4"), 4L)
        .otherwise(5L)
      if (invert) lit(6L) - raw else raw
    }
    rfm
      .crossJoin(broadcast(rq))
      .crossJoin(broadcast(fq))
      .crossJoin(broadcast(mq))
      .select(
        col("o_custkey").as("custkey"),
        score("r", invert = true).as("r_score"), // low recency-days → high score
        score("f", invert = false).as("f_score"),
        score("m", invert = false).as("m_score")
      )
      .withColumn(
        "segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, lit("champion"))
          .when(col("f_score") >= 4, lit("loyal"))
          .when(col("r_score") <= 2 && col("m_score") >= 4, lit("at_risk"))
          .when(col("r_score") <= 1, lit("lost"))
          .otherwise(lit("regular"))
      )
  }

  private val qRfmSegmentsSql =
    """WITH rfm AS (SELECT o_custkey,
      |    CAST(datediff('day', max(CAST(o_orderdate AS DATE)), DATE '2001-09-01') AS BIGINT) AS r,
      |    count(*) AS f,
      |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) * 100 // 100 AS BIGINT) AS m
      |  FROM orders GROUP BY 1),
      |rh AS (SELECT r AS v, count(*) AS cnt FROM rfm GROUP BY 1),
      |rc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS total FROM rh),
      |rq AS (SELECT min(CASE WHEN cum * 5 >= total * 1 THEN v END) AS q1,
      |    min(CASE WHEN cum * 5 >= total * 2 THEN v END) AS q2,
      |    min(CASE WHEN cum * 5 >= total * 3 THEN v END) AS q3,
      |    min(CASE WHEN cum * 5 >= total * 4 THEN v END) AS q4 FROM rc),
      |fh AS (SELECT f AS v, count(*) AS cnt FROM rfm GROUP BY 1),
      |fc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS total FROM fh),
      |fq AS (SELECT min(CASE WHEN cum * 5 >= total * 1 THEN v END) AS q1,
      |    min(CASE WHEN cum * 5 >= total * 2 THEN v END) AS q2,
      |    min(CASE WHEN cum * 5 >= total * 3 THEN v END) AS q3,
      |    min(CASE WHEN cum * 5 >= total * 4 THEN v END) AS q4 FROM fc),
      |mh AS (SELECT m AS v, count(*) AS cnt FROM rfm GROUP BY 1),
      |mc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS total FROM mh),
      |mq AS (SELECT min(CASE WHEN cum * 5 >= total * 1 THEN v END) AS q1,
      |    min(CASE WHEN cum * 5 >= total * 2 THEN v END) AS q2,
      |    min(CASE WHEN cum * 5 >= total * 3 THEN v END) AS q3,
      |    min(CASE WHEN cum * 5 >= total * 4 THEN v END) AS q4 FROM mc),
      |scored AS (SELECT o_custkey AS custkey,
      |    6 - (CASE WHEN r <= rq.q1 THEN 1 WHEN r <= rq.q2 THEN 2 WHEN r <= rq.q3 THEN 3
      |              WHEN r <= rq.q4 THEN 4 ELSE 5 END) AS r_score,
      |    CASE WHEN f <= fq.q1 THEN 1 WHEN f <= fq.q2 THEN 2 WHEN f <= fq.q3 THEN 3
      |         WHEN f <= fq.q4 THEN 4 ELSE 5 END AS f_score,
      |    CASE WHEN m <= mq.q1 THEN 1 WHEN m <= mq.q2 THEN 2 WHEN m <= mq.q3 THEN 3
      |         WHEN m <= mq.q4 THEN 4 ELSE 5 END AS m_score
      |  FROM rfm CROSS JOIN rq CROSS JOIN fq CROSS JOIN mq)
      |SELECT custkey, CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
      |  CAST(m_score AS BIGINT) AS m_score,
      |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
      |       WHEN f_score >= 4 THEN 'loyal'
      |       WHEN r_score <= 2 AND m_score >= 4 THEN 'at_risk'
      |       WHEN r_score <= 1 THEN 'lost'
      |       ELSE 'regular' END AS segment
      |FROM scored""".stripMargin

  // --------------------------- noisy-neighbor detection (B118)

  /** Multi-tenant fairness: the 20 (hour, user) cells where one user
    * most dominates an hour's traffic (share of that hour in ppm) — the
    * noisy-neighbor readout a platform throttles (B101) from. Integer
    * shares; ties pinned by (hour, user).
    *
    * Scale shape: one (hour, user) map-side-combined hash-agg; hourly
    * totals via a second tiny agg broadcast-joined back; top-20 is
    * TakeOrdered. The log is scanned once.
    */
  private def eventsNoisyNeighbors(s: SparkSession, dir: String): DataFrame = {
    val hour = expr("CAST(unix_millis(CAST(ts AS TIMESTAMP)) div 3600000 AS BIGINT)")
    val cell = events(s, dir).groupBy(hour.as("hour_idx"), col("user_id")).agg(count(lit(1)).as("n"))
    val tot  = cell.groupBy("hour_idx").agg(sum("n").as("hour_total"))
    cell
      .join(broadcast(tot), Seq("hour_idx"))
      .select(
        col("hour_idx"),
        col("user_id"),
        col("n"),
        col("hour_total"),
        expr("CAST(n * 1000000 div hour_total AS BIGINT)").as("share_ppm")
      )
      .orderBy(desc("share_ppm"), col("hour_idx"), col("user_id"))
      .limit(20)
  }

  private val eventsNoisyNeighborsSql =
    """WITH cell AS (SELECT epoch_ms(ts) // 3600000 AS hour_idx, user_id, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT hour_idx, CAST(sum(n) AS BIGINT) AS hour_total FROM cell GROUP BY 1)
      |SELECT cell.hour_idx, user_id, n, hour_total,
      |  CAST(n * 1000000 // hour_total AS BIGINT) AS share_ppm
      |FROM cell JOIN tot ON cell.hour_idx = tot.hour_idx
      |ORDER BY share_ppm DESC, cell.hour_idx, user_id LIMIT 20""".stripMargin

  // --------------------------- seasonal decomposition (B119)

  /** STL-lite decomposition of the daily event series: per day,
    * count = TREND (centered ±3-day mean) + WEEKDAY EFFECT (mean
    * detrended value of that day-of-week) + RESIDUAL — the
    * decomposition an anomaly detector runs so weekend dips don't page
    * anyone (the seasonal upgrade of B23's global z-scores). Everything
    * is ppm-scaled integer arithmetic: trend = `sum·1e6 div n`, the dow
    * effect averages integer detrended values, the residual is a
    * difference — no float drift anywhere.
    *
    * Scale shape: the series is the DAYS-sized daily table (one
    * map-side hash-agg from the log); the centered window, the dow
    * hash-agg, and the join-back all run over days-sized data.
    */
  private def eventsSeasonalDecomp(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long").as("day_idx")
      )
      .agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy(expr("day_idx % 1")).orderBy("day_idx").rowsBetween(-3, 3)
    val detrended = daily
      .withColumn("t_sum", sum("cnt").over(wc))
      .withColumn("t_n", count(lit(1)).over(wc))
      .withColumn("trend_ppm", expr("CAST(t_sum * 1000000 div t_n AS BIGINT)"))
      .withColumn("detr_ppm", col("cnt") * 1000000L - col("trend_ppm"))
      .withColumn("dow", expr("CAST(day_idx % 7 AS BIGINT)"))
    val dowEffect = detrended
      .groupBy("dow")
      .agg(expr("CAST(sum(detr_ppm) div count(1) AS BIGINT)").as("dow_effect_ppm"))
    detrended
      .join(broadcast(dowEffect), Seq("dow"))
      .select(
        col("day_idx"),
        col("cnt"),
        col("trend_ppm"),
        col("dow_effect_ppm"),
        (col("detr_ppm") - col("dow_effect_ppm")).as("residual_ppm")
      )
  }

  private val eventsSeasonalDecompSql =
    """WITH daily AS (SELECT
      |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_idx,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1),
      |d2 AS (SELECT *,
      |    CAST(sum(cnt) OVER w * 1000000 // count(*) OVER w AS BIGINT) AS trend_ppm,
      |    day_idx % 7 AS dow
      |  FROM daily
      |  WINDOW w AS (ORDER BY day_idx ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |d3 AS (SELECT *, cnt * 1000000 - trend_ppm AS detr_ppm FROM d2),
      |eff AS (SELECT dow, CAST(sum(detr_ppm) // count(*) AS BIGINT) AS dow_effect_ppm
      |  FROM d3 GROUP BY 1)
      |SELECT day_idx, cnt, trend_ppm, dow_effect_ppm,
      |  CAST(detr_ppm - dow_effect_ppm AS BIGINT) AS residual_ppm
      |FROM d3 JOIN eff USING (dow)""".stripMargin

  // --------------------------- rank correlation (B120)

  /** Ranking-stability statistics: Spearman's ρ between part revenue
    * RANKS in 1996 and 1997 (parts active both years) — "did the
    * catalog's pecking order move?", the drift metric for any published
    * ranking (search results, recommendations, leaderboards). Ranks are
    * integers (revenue desc, partkey tiebreak), ρ is Pearson on ranks
    * from exact integer sums with the double formula replayed verbatim
    * (B67's kernel on rank pairs).
    *
    * Scale shape: two year-filtered part-dimension hash-aggs; rank
    * windows run over the parts dimension; one equi-join on partkey and
    * a 1-row moment aggregate. The fact table is scanned twice
    * (year-pruned), never sorted globally beyond the dimension ranks.
    */
  private def qRankCorrelation(s: SparkSession, dir: String): DataFrame = {
    def ranks(y: Int) =
      lineitem(s, dir)
        .where(year(col("l_shipdate").cast("date")) === y)
        .groupBy("l_partkey")
        .agg(expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)").as("rev"))
        .withColumn(
          "rk",
          row_number().over(
            Window.partitionBy(expr("rev % 1")).orderBy(desc("rev"), col("l_partkey"))
          ).cast("long")
        )
        .select(col("l_partkey"), col("rk"))
    val joined = ranks(1996).withColumnRenamed("rk", "ra")
      .join(ranks(1997).withColumnRenamed("rk", "rb"), "l_partkey")
    joined
      .agg(
        count(lit(1)).as("n"),
        sum("ra").as("sx"),
        sum("rb").as("sy"),
        sum(col("ra") * col("rb")).as("sxy"),
        sum(col("ra") * col("ra")).as("sxx"),
        sum(col("rb") * col("rb")).as("syy")
      )
      .select(
        col("n"),
        round(
          (col("n") * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("n") * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double")) *
              sqrt(col("n") * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double"))),
          6
        ).as("spearman_rho")
      )
  }

  private val qRankCorrelationSql =
    """WITH ra AS (SELECT l_partkey,
      |    CAST(row_number() OVER (ORDER BY CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) DESC, l_partkey) AS BIGINT) AS ra
      |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1996 GROUP BY l_partkey),
      |rb AS (SELECT l_partkey,
      |    CAST(row_number() OVER (ORDER BY CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) DESC, l_partkey) AS BIGINT) AS rb
      |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1997 GROUP BY l_partkey),
      |j AS (SELECT ra.l_partkey, ra, rb FROM ra JOIN rb ON ra.l_partkey = rb.l_partkey),
      |m AS (SELECT count(*) AS n,
      |    CAST(sum(ra) AS BIGINT) AS sx, CAST(sum(rb) AS BIGINT) AS sy,
      |    CAST(sum(ra * rb) AS BIGINT) AS sxy,
      |    CAST(sum(ra * ra) AS BIGINT) AS sxx, CAST(sum(rb * rb) AS BIGINT) AS syy
      |  FROM j)
      |SELECT n,
      |  round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS spearman_rho
      |FROM m""".stripMargin

  // --------------------------- BFS hop distance (B121)

  /** Graph distance: minimum hop count from the root host `src0` to
    * every reachable host over the staged undirected link graph (B97's
    * densified edges) — the reachability-with-distance query behind
    * "how far is this domain from a trusted seed" scoring, completing
    * the graph family next to components (reach), PageRank (authority),
    * and triangles (density). The oracle walks the same graph with a
    * recursive CTE + min().
    *
    * Scale shape: frontier BFS as iterative relational rounds — each
    * round joins the CURRENT frontier (not the whole visited set) with
    * the edge list and anti-joins the visited set, exactly the Pregel
    * frontier expansion, running to frontier-empty fixpoint; rounds are
    * O(diameter), work per round is frontier-adjacency sized, and each
    * round localCheckpoints so lineage stays linear (B71's discipline).
    */
  private def graphBfsHops(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val er = d.select(
      col("source").as("x"),
      concat(lit("src"), ((col("doc_id") * 7 + col("n_chars")) % 20).cast("string")).as("y")
    ).unionByName(
      d.select(
        col("source").as("x"),
        concat(lit("src"), ((col("doc_id") * 3 + col("n_chars") * 5 + 1) % 20).cast("string")).as("y")
      )
    )
    val und = er
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
    val edges = und.unionByName(und.select(col("b").as("a"), col("a").as("b"))).localCheckpoint(true)

    var visited  = d.sparkSession.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row("src0", 0L)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("hops", org.apache.spark.sql.types.LongType)
      ))
    )
    // Fixpoint frontier expansion (r14 depth item): rounds run until the
    // frontier EMPTIES — the true BFS termination — instead of a fixed 6,
    // which on a graph of diameter > 6 would silently truncate distances
    // while the recursive-CTE oracle walked further. Rounds are
    // O(diameter); the 64-round cap fails loudly on a pathological
    // fixture rather than looping (BFS on a finite graph always empties
    // the frontier — the cap mirrors the oracle's recursion bound, which
    // DuckDB needs because its per-level walk re-reaches visited nodes).
    var frontier = visited
    var depth    = 0L
    while (frontier.limit(1).count() > 0) {
      depth += 1
      require(depth <= 64, "graph_bfs_hops: frontier non-empty after 64 rounds — mirrors the oracle's bound")
      val next = frontier
        .join(edges, frontier("node") === edges("a"))
        .select(col("b").as("node"))
        .distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("hops", lit(depth))
        .localCheckpoint(true)
      visited = visited.unionByName(next).localCheckpoint(true)
      frontier = next
    }
    visited
  }

  private val graphBfsHopsSql =
    """WITH RECURSIVE er AS (SELECT source AS x, 'src' || CAST((doc_id * 7 + n_chars) % 20 AS VARCHAR) AS y
      |  FROM documents
      |  UNION ALL
      |  SELECT source AS x, 'src' || CAST((doc_id * 3 + n_chars * 5 + 1) % 20 AS VARCHAR) AS y
      |  FROM documents),
      |und AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM er WHERE x != y),
      |edges AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
      |walk AS (
      |  SELECT 'src0' AS node, CAST(0 AS BIGINT) AS hops
      |  UNION
      |  SELECT e.b AS node, w.hops + 1
      |  FROM walk w JOIN edges e ON w.node = e.a
      |  WHERE w.hops < 64)
      |SELECT node, min(hops) AS hops FROM walk GROUP BY 1""".stripMargin

  // --------------------------- vocabulary uniqueness (B122)

  /** Provider vocabulary fingerprinting: per source, how much of its
    * distinct vocabulary appears in NO other source (count + ppm share)
    * — high uniqueness signals a domain-specialized (or
    * encoding-damaged) provider, low uniqueness a commodity crawl; the
    * complement of B37's pairwise overlap matrix at the per-provider
    * grain.
    *
    * Scale shape: one (term, source) dedup hash-agg; per-term source
    * counts are a vocab-sized agg joined back on the term key (vocab-
    * scale shuffle, never documents); the per-source rollup is
    * sources-sized.
    */
  private def textVocabUniqueness(s: SparkSession, dir: String): DataFrame = {
    val toks = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    val pairs = documents(s, dir)
      .select(col("source"), explode(toks).as("term"))
      .where(length(col("term")) > 0)
      .distinct()
    val spread = pairs.groupBy("term").agg(count(lit(1)).as("n_sources"))
    pairs
      .join(spread, "term")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_terms"),
        sum(when(col("n_sources") === 1, 1L).otherwise(0L)).as("n_unique")
      )
      .select(
        col("source"),
        col("n_terms"),
        col("n_unique"),
        expr("CAST(n_unique * 1000000 div n_terms AS BIGINT)").as("uniq_ppm")
      )
  }

  private val textVocabUniquenessSql =
    """WITH pairs AS (SELECT DISTINCT source,
      |    unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
      |  FROM documents),
      |p2 AS (SELECT * FROM pairs WHERE length(term) > 0),
      |spread AS (SELECT term, count(*) AS n_sources FROM p2 GROUP BY 1)
      |SELECT source, count(*) AS n_terms,
      |  CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
      |  CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS uniq_ppm
      |FROM p2 JOIN spread USING (term) GROUP BY source""".stripMargin

  // --------------------------- Gini concentration (B123)

  /** Inequality measurement WITHOUT sorting the population: the Gini
    * coefficient of order basket sizes, computed exactly from the
    * BOUNDED size histogram — for value v with count c starting after
    * cum-count `start`, the rank-weighted sum contributes
    * `v·(c·start + c(c+1)/2)`, all integers; G then follows from the
    * closed formula `(2Σi·xᵢ − (n+1)Σxᵢ)/(nΣxᵢ)` with one
    * DECIMAL(38,0) division at the end. The concentration readout
    * (order-size inequality, spend inequality, traffic inequality)
    * usually quoted as requiring a full sort — the histogram makes it a
    * hash-agg (B53's trick applied to an economics statistic).
    *
    * Scale shape: basket sizes are one per-order hash-agg; the
    * histogram is ≤ basket-size-bound rows; the cumulative window and
    * closed formula run over that tiny table.
    */
  private def qBasketGini(s: SparkSession, dir: String): DataFrame = {
    val sizes = lineitem(s, dir).groupBy("l_orderkey").agg(count(lit(1)).as("v"))
    val hist  = sizes.groupBy("v").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(expr("v % 1")).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    hist
      .withColumn("start", coalesce(sum("c").over(w), lit(0L)))
      .select(
        expr("v * (c * start + c * (c + 1) div 2)").as("six_part"),
        expr("v * c").as("sx_part"),
        col("c")
      )
      .groupBy(lit(1).as("g"))
      .agg(
        sum("c").as("n"),
        sum("sx_part").as("sx"),
        sum("six_part").as("six")
      )
      .drop("g")
      .select(
        col("n"),
        col("sx"),
        expr(
          """CAST((CAST(2 AS DECIMAL(38,0)) * six - (CAST(n AS DECIMAL(38,0)) + 1) * sx) * 1000000
            |  div (CAST(n AS DECIMAL(38,0)) * sx) AS BIGINT)""".stripMargin
        ).as("gini_ppm")
      )
  }

  private val qBasketGiniSql =
    """WITH sizes AS (SELECT l_orderkey, count(*) AS v FROM lineitem GROUP BY 1),
      |hist AS (SELECT v, count(*) AS c FROM sizes GROUP BY 1),
      |h2 AS (SELECT *, coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      |  FROM hist),
      |m AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(v * c) AS BIGINT) AS sx,
      |    sum(v * (c * start + c * (c + 1) // 2)) AS six
      |  FROM h2)
      |SELECT n, sx,
      |  CAST((2 * six - (n + 1) * sx) * 1000000 // (n * sx) AS BIGINT) AS gini_ppm
      |FROM m""".stripMargin

  // --------------------------- histogram-exact mode (B124)

  /** Exact MODE per event type — the most frequent value (ties to the
    * smallest), its frequency, and the second-to-first
    * peak ratio (ppm — near 1e6 means multimodal/flat) — the descriptive statistic that catches
    * defaulted/sentinel values (a spike at 9.99) that means and
    * percentiles smooth over. Computed from the bounded value histogram
    * with rank windows over the histogram only (B53's machinery aimed
    * at the mode instead of quantiles).
    *
    * Scale shape: one (type, value) hash-agg on the bounded 2-dp
    * domain; rank + second-peak windows partition per type over the
    * histogram; one row per type out.
    */
  private def eventsModeValues(s: SparkSession, dir: String): DataFrame = {
    val hist = events(s, dir).groupBy("event_type", "value").agg(count(lit(1)).as("c"))
    val w    = Window.partitionBy("event_type").orderBy(desc("c"), col("value"))
    hist
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 2)
      .groupBy("event_type")
      .agg(
        max(when(col("rk") === 1, col("value"))).as("mode_value"),
        max(when(col("rk") === 1, col("c"))).as("mode_n"),
        max(when(col("rk") === 2, col("c"))).as("second_n")
      )
      .select(
        col("event_type"),
        col("mode_value"),
        col("mode_n"),
        expr("CAST(coalesce(second_n, 0) * 1000000 div mode_n AS BIGINT)").as("peak_ratio_ppm")
      )
  }

  private val eventsModeValuesSql =
    """WITH hist AS (SELECT event_type, value, count(*) AS c FROM events GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY c DESC, value) AS rk
      |  FROM hist)
      |SELECT event_type,
      |  max(CASE WHEN rk = 1 THEN value END) AS mode_value,
      |  max(CASE WHEN rk = 1 THEN c END) AS mode_n,
      |  CAST(coalesce(max(CASE WHEN rk = 2 THEN c END), 0) * 1000000 // max(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS peak_ratio_ppm
      |FROM r WHERE rk <= 2 GROUP BY 1""".stripMargin

  // --------------------------- session entry/exit matrix (B125)

  /** Web-analytics entry/exit analysis: per session (30-min gap rule),
    * the FIRST and LAST event types, aggregated into the
    * (entry, exit) matrix with counts — where journeys start and where
    * they die, the landing/abandonment readout next to B65's full-path
    * mining.
    *
    * Scale shape: the session assignment reuses B65's bounded per-user
    * windows; first/last per session are min/max over (ms, event_id,
    * type) structs (one hash-agg, no second window); the matrix is
    * types²-bounded.
    */
  private def eventsEntryExit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val sess = events(s, dir)
      .select(
        col("user_id"), col("event_id"), col("event_type"),
        operators.EventAnalytics.tsMillis(col("ts")).as("ms")
      )
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn(
        "new_s",
        when(col("prev_ms").isNull || (col("ms") - col("prev_ms")) > 1800000L, lit(1L)).otherwise(lit(0L))
      )
      .withColumn("sess", sum(col("new_s")).over(w))
    sess
      .groupBy("user_id", "sess")
      .agg(
        min(struct(col("ms"), col("event_id"), col("event_type"))).as("first"),
        max(struct(col("ms"), col("event_id"), col("event_type"))).as("last")
      )
      .groupBy(col("first.event_type").as("entry_type"), col("last.event_type").as("exit_type"))
      .agg(count(lit(1)).as("n_sessions"))
  }

  private val eventsEntryExitSql =
    """WITH b AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |l AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM b),
      |s AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s FROM l),
      |s2 AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS sess FROM s),
      |r AS (SELECT user_id, sess, event_type,
      |    row_number() OVER (PARTITION BY user_id, sess ORDER BY ms, event_id) AS ra,
      |    row_number() OVER (PARTITION BY user_id, sess ORDER BY ms DESC, event_id DESC) AS rb
      |  FROM s2),
      |fl AS (SELECT user_id, sess,
      |    max(CASE WHEN ra = 1 THEN event_type END) AS entry_type,
      |    max(CASE WHEN rb = 1 THEN event_type END) AS exit_type
      |  FROM r GROUP BY 1, 2)
      |SELECT entry_type, exit_type, count(*) AS n_sessions
      |FROM fl GROUP BY 1, 2""".stripMargin

  // --------------------------- χ² contingency test (B126)

  /** Association testing: the (lang × source) contingency table's χ²
    * cell contributions — `(o·N − r·c)² / (r·c·N)` in milli-units via
    * DECIMAL(38,0) floor division per cell — answering "is language
    * independent of provider?" (it shouldn't be; a uniform answer means
    * labels were shuffled somewhere). The SRM check (B91) is this
    * statistic's 2-cell special case; this is the general R×C form,
    * with per-cell contributions kept so the offending cells are
    * readable, not just the total.
    *
    * Scale shape: one (lang, source) hash-agg bounds everything to the
    * R×C grid; row/column marginals are tiny aggs broadcast-joined
    * back; all arithmetic runs on grid-sized data.
    */
  private def qChi2Contingency(s: SparkSession, dir: String): DataFrame = {
    val cell = documents(s, dir).groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rowM = cell.groupBy("lang").agg(sum("o").as("r"))
    val colM = cell.groupBy("source").agg(sum("o").as("c"))
    val tot  = cell.agg(sum("o").as("n_tot"))
    cell
      .join(broadcast(rowM), Seq("lang"))
      .join(broadcast(colM), Seq("source"))
      .crossJoin(tot)
      .select(
        col("lang"),
        col("source"),
        col("o"),
        expr(
          """CAST(((CAST(o AS DECIMAL(38,0)) * n_tot - CAST(r AS DECIMAL(38,0)) * c)
            |  * (CAST(o AS DECIMAL(38,0)) * n_tot - CAST(r AS DECIMAL(38,0)) * c) * 1000)
            |  div (CAST(r AS DECIMAL(38,0)) * c * n_tot) AS BIGINT)""".stripMargin
        ).as("chi2_milli")
      )
  }

  private val qChi2ContingencySql =
    """WITH cell AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
      |rm AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM cell GROUP BY 1),
      |cm AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM cell GROUP BY 1),
      |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n_tot FROM cell)
      |SELECT lang, source, o,
      |  CAST(((o * n_tot - r * c) * (o * n_tot - r * c) * 1000) // (r * c * n_tot) AS BIGINT) AS chi2_milli
      |FROM cell JOIN rm USING (lang) JOIN cm USING (source) CROSS JOIN tot""".stripMargin

  // --------------------------- crash-free session rate (B127)

  /** Reliability metric: per day, the share of sessions containing NO
    * `error` event (crash-free rate, ppm) — the app-health headline
    * every mobile/SaaS dashboard leads with, sessionized by the
    * standard 30-minute rule and attributed to the session's START day.
    *
    * Scale shape: B65's bounded per-user session windows; the
    * per-session error flag and start day come from ONE hash-agg
    * (max of an indicator, min of the day); the daily rollup is
    * days-sized.
    */
  private def eventsCrashFree(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val sess = events(s, dir)
      .select(
        col("user_id"), col("event_id"), col("event_type"),
        operators.EventAnalytics.tsMillis(col("ts")).as("ms"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long").as("day_idx")
      )
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn(
        "new_s",
        when(col("prev_ms").isNull || (col("ms") - col("prev_ms")) > 1800000L, lit(1L)).otherwise(lit(0L))
      )
      .withColumn("sess", sum(col("new_s")).over(w))
    sess
      .groupBy("user_id", "sess")
      .agg(
        min("day_idx").as("start_day"),
        max(when(col("event_type") === "error", 1L).otherwise(0L)).as("had_error")
      )
      .groupBy(col("start_day").as("day_idx"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(expr("1 - had_error")).as("n_crash_free")
      )
      .select(
        col("day_idx"),
        col("n_sessions"),
        col("n_crash_free"),
        expr("CAST(n_crash_free * 1000000 div n_sessions AS BIGINT)").as("crash_free_ppm")
      )
  }

  private val eventsCrashFreeSql =
    """WITH b AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
      |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_idx
      |  FROM events),
      |l AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM b),
      |s AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_s FROM l),
      |s2 AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS sess FROM s),
      |per AS (SELECT user_id, sess, min(day_idx) AS start_day,
      |    max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS had_error
      |  FROM s2 GROUP BY 1, 2)
      |SELECT start_day AS day_idx, count(*) AS n_sessions,
      |  CAST(sum(1 - had_error) AS BIGINT) AS n_crash_free,
      |  CAST(sum(1 - had_error) * 1000000 // count(*) AS BIGINT) AS crash_free_ppm
      |FROM per GROUP BY 1""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_conformance", Seq("B104"), eventsConformance, eventsConformanceSql),
    QuerySpec("text_script_mismatch", Seq("B105"), textScriptMismatch, textScriptMismatchSql),
    QuerySpec("q_ivm_delta", Seq("B106"), qIvmDelta, qIvmDeltaSql),
    QuerySpec("q_fk_audit", Seq("B107"), qFkAudit, qFkAuditSql),
    QuerySpec("q_join_estimate", Seq("B108"), qJoinEstimate, qJoinEstimateSql),
    QuerySpec("q_discount_response", Seq("B109"), qDiscountResponse, qDiscountResponseSql),
    QuerySpec("q_rising_parts", Seq("B110"), qRisingParts, qRisingPartsSql),
    QuerySpec("events_user_holdout", Seq("B111"), eventsUserHoldout, eventsUserHoldoutSql),
    QuerySpec("q_benford_audit", Seq("B112"), qBenfordAudit, qBenfordAuditSql),
    QuerySpec("events_ltv_triangle", Seq("B113"), eventsLtvTriangle, eventsLtvTriangleSql),
    QuerySpec("q_skyline", Seq("B114"), qSkyline, qSkylineSql),
    QuerySpec("events_interarrival", Seq("B115"), eventsInterarrival, eventsInterarrivalSql),
    QuerySpec("q_minmax_pruning", Seq("B116"), qMinmaxPruning, qMinmaxPruningSql),
    QuerySpec("q_rfm_segments", Seq("B117"), qRfmSegments, qRfmSegmentsSql),
    QuerySpec("events_noisy_neighbors", Seq("B118"), eventsNoisyNeighbors, eventsNoisyNeighborsSql),
    QuerySpec("events_seasonal_decomp", Seq("B119"), eventsSeasonalDecomp, eventsSeasonalDecompSql),
    QuerySpec("q_rank_correlation", Seq("B120"), qRankCorrelation, qRankCorrelationSql),
    QuerySpec("graph_bfs_hops", Seq("B121"), graphBfsHops, graphBfsHopsSql),
    QuerySpec("text_vocab_uniqueness", Seq("B122"), textVocabUniqueness, textVocabUniquenessSql),
    QuerySpec("q_basket_gini", Seq("B123"), qBasketGini, qBasketGiniSql),
    QuerySpec("events_mode_values", Seq("B124"), eventsModeValues, eventsModeValuesSql),
    QuerySpec("events_entry_exit", Seq("B125"), eventsEntryExit, eventsEntryExitSql),
    QuerySpec("q_chi2_contingency", Seq("B126"), qChi2Contingency, qChi2ContingencySql),
    QuerySpec("events_crash_free", Seq("B127"), eventsCrashFree, eventsCrashFreeSql)
  )
}
