package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-11 additions, batch 50: t-closeness — completing the
  * k-anonymity (B54) / l-diversity (B221) / t-closeness privacy triad
  * (B274) — and the event-type daily-correlation matrix (B275), the
  * cross-metric companion to the drift family.
  */
object QueriesExt76 {

  // --------------------------- t-closeness (B274)

  /** t-closeness audit (`q_t_closeness`): for every quasi-identifier
    * class (market segment × nation-key bucket over the customer-order
    * join), the total-variation distance between the class's sensitive-
    * attribute distribution (order priority) and the global one —
    * k-anonymity (B54) bounds re-identification, l-diversity (B221)
    * bounds attribute disclosure by COUNT, t-closeness bounds it by
    * DISTRIBUTION (a class can hold 3 distinct priorities, B221-clean,
    * yet be 90% URGENT — an inference leak only the distance sees).
    * TV is the exact integer Σ_s |n_cs·N − n_s·N_c| / (2·N_c·N) in
    * DECIMAL(38,0)/HUGEINT (B98's arithmetic); the max class distance —
    * the corpus's t — rides every row.
    *
    * Scale shape: one (class, priority) map-side count; the zero-fill
    * grid is bounded classes × 5 priorities (B98's pattern — a class
    * missing a priority still contributes |0 − n_s·N_c|); global counts
    * are 1-row/5-row broadcasts.
    */
  private def qTCloseness(s: SparkSession, dir: String): DataFrame = {
    val rows = orders(s, dir)
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(
        col("c_mktsegment").as("segment"),
        (col("c_nationkey") % 5).cast("long").as("nat_bucket"),
        col("o_orderpriority").as("prio"))
    // ONE corpus scan: the (class, priority) count table is bounded
    // (≤ segments × buckets × 5 rows), so the class totals, the global
    // priority distribution, and the grand total all derive from it.
    // localCheckpoint here is the legitimate use the B262 lesson
    // carves out: an expensive-to-rebuild scan producing a TINY table
    // with multiple consumers — the opposite of the row-linear stream
    // that lesson forbids materializing.
    val cs = rows.groupBy(col("segment"), col("nat_bucket"), col("prio"))
      .agg(count(lit(1)).as("n_csp"))
      .localCheckpoint(true)
    val cTot  = cs.groupBy(col("segment"), col("nat_bucket")).agg(sum(col("n_csp")).as("n_c"))
    val gPrio = cs.groupBy(col("prio")).agg(sum(col("n_csp")).as("n_s"))
    val gTot  = cs.agg(sum(col("n_csp")).as("n"))
    val grid = cTot.crossJoin(broadcast(gPrio))
    val perClass = grid
      .join(cs, Seq("segment", "nat_bucket", "prio"), "left")
      .na.fill(0L, Seq("n_csp"))
      .crossJoin(broadcast(gTot))
      .groupBy(col("segment"), col("nat_bucket"))
      .agg(
        max(col("n_c")).as("n_rows"),
        sum(expr("abs(CAST(n_csp AS DECIMAL(38,0)) * n - CAST(n_s AS DECIMAL(38,0)) * n_c)")).as("num"),
        max(col("n")).as("nn"))
      .select(
        col("segment"), col("nat_bucket"), col("n_rows"),
        expr("CAST(num * 1000000 div (2 * CAST(n_rows AS DECIMAL(38,0)) * nn) AS BIGINT)")
          .as("tv_ppm"))
    perClass.crossJoin(broadcast(perClass.agg(max(col("tv_ppm")).as("t_max_ppm"))))
  }

  private val qTClosenessSql =
    """WITH rows_ AS (
      |  SELECT c_mktsegment AS segment, CAST(c_nationkey % 5 AS BIGINT) AS nat_bucket,
      |    o_orderpriority AS prio
      |  FROM orders JOIN customer ON c_custkey = o_custkey),
      |cs AS (SELECT segment, nat_bucket, prio, count(*) AS n_csp FROM rows_ GROUP BY 1, 2, 3),
      |ct AS (SELECT segment, nat_bucket, CAST(sum(n_csp) AS BIGINT) AS n_c FROM cs GROUP BY 1, 2),
      |gp AS (SELECT prio, count(*) AS n_s FROM rows_ GROUP BY 1),
      |gt AS (SELECT count(*) AS n FROM rows_),
      |per_class AS (
      |  SELECT g.segment, g.nat_bucket, max(g.n_c) AS n_rows,
      |    CAST(sum(abs(CAST(coalesce(c.n_csp, 0) AS HUGEINT) * gt.n
      |        - CAST(g.n_s AS HUGEINT) * g.n_c)) * 1000000
      |      // (2 * CAST(max(g.n_c) AS HUGEINT) * max(gt.n)) AS BIGINT) AS tv_ppm
      |  FROM (SELECT ct.*, gp.prio, gp.n_s FROM ct, gp) g
      |  LEFT JOIN cs c ON c.segment = g.segment AND c.nat_bucket = g.nat_bucket
      |    AND c.prio = g.prio, gt
      |  GROUP BY 1, 2),
      |tm AS (SELECT max(tv_ppm) AS t_max_ppm FROM per_class)
      |SELECT p.segment, p.nat_bucket, p.n_rows, p.tv_ppm, tm.t_max_ppm
      |FROM per_class p, tm""".stripMargin

  // --------------------------- event-type correlation matrix (B275)

  /** Pairwise Pearson correlation of DAILY COUNTS between event types
    * (`events_type_correlation`): do errors spike with clicks (load-
    * coupled) or independently (release-coupled)? The cross-metric
    * companion to the within-metric drift family (B224/B228); feeds
    * alert dedup (don't page twice for one incident). Zero-filled on
    * the full type × day grid so a missing day counts as 0, the five
    * sufficient sums are exact BIGINTs, and only the final ratio takes
    * the B255 round-6 snap.
    *
    * Scale shape: one (type, day) map-side count; the grid and the
    * type-pair join are calendar × |types| bounded; 10-row output.
    */
  private def eventsTypeCorrelation(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(daily.select(col("day")).distinct()))
    val filled = grid
      .join(daily, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("c"))
    val pairs = filled.as("a")
      .join(filled.as("b"), col("a.day") === col("b.day") && col("a.event_type") < col("b.event_type"))
      .select(
        col("a.event_type").as("type_a"), col("b.event_type").as("type_b"),
        col("a.c").as("x"), col("b.c").as("y"))
    pairs
      .groupBy(col("type_a"), col("type_b"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("x * y")).as("sxy"),
        sum(expr("x * x")).as("sxx"), sum(expr("y * y")).as("syy"))
      .select(
        col("type_a"), col("type_b"), col("n_days"),
        expr(
          "CAST(round(round((CAST(n_days AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /" +
            " sqrt((CAST(n_days AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)" +
            " * (CAST(n_days AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) * 1000000, 0) AS BIGINT)")
          .as("pearson_micro"))
  }

  private val eventsTypeCorrelationSql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT t.event_type, d.day
      |  FROM (SELECT DISTINCT event_type FROM daily) t, (SELECT DISTINCT day FROM daily) d),
      |filled AS (
      |  SELECT g.event_type, g.day, coalesce(daily.c, 0) AS c
      |  FROM grid g LEFT JOIN daily ON daily.event_type = g.event_type AND daily.day = g.day),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, a.c AS x, b.c AS y
      |  FROM filled a JOIN filled b ON b.day = a.day AND a.event_type < b.event_type),
      |sums AS (
      |  SELECT type_a, type_b, count(*) AS n_days,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM pairs GROUP BY 1, 2)
      |SELECT type_a, type_b, n_days,
      |  CAST(round(round((CAST(n_days AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
      |    sqrt((CAST(n_days AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |    * (CAST(n_days AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) * 1000000) AS BIGINT)
      |    AS pearson_micro
      |FROM sums""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_t_closeness", Seq("B274"), qTCloseness, qTClosenessSql),
    QuerySpec("events_type_correlation", Seq("B275"), eventsTypeCorrelation, eventsTypeCorrelationSql)
  )
}
