package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._

/** Round-10 additions, batch 49: uncertainty and structure lenses the
  * earlier readouts assume but never measure — a resampled confidence
  * interval for the A/B lift (B82 emits a t statistic; this emits the
  * interval, by the one bootstrap that scales), the modularity of the
  * brand partition over the co-purchase graph (do B148's communities
  * mean anything?), and the stationary distribution of the B61 Markov
  * chain (where user behavior settles, vs where it is today).
  */
object QueriesExt56 {

  // --------------------------- Poisson-bootstrap CI for the A/B diff (B238)

  /** Cluster-bootstrap confidence interval for the between-bucket
    * difference in per-user purchase value (`events_bootstrap_ci`) —
    * the uncertainty estimate B82's Welch t only approximates under
    * normality. Resampling is BY USER (the randomization unit; row-level
    * resampling would understate variance under within-user correlation)
    * and uses the Poisson bootstrap (Chamandy et al.'s single-pass
    * formulation): instead of materializing 64 resampled corpora, each
    * user carries a Poisson(1) weight per replicate, drawn by inverse
    * CDF on a 6-digit slice of md5("bs<r>:<user>") against fixed integer
    * thresholds — deterministic, engine-portable, and embarrassingly
    * parallel. Replicate means are exact integer divisions of
    * DECIMAL-exact milli sums; the 95% interval is the (2nd, 63rd) order
    * statistic of the 64 replicate diffs (percentile bootstrap).
    *
    * Scale shape: one events pass → per-USER milli totals (user-bounded,
    * map-side combined), a ×64 replicate explode of that bounded table
    * into a 128-key hash-agg, then windows over exactly 64 rows. Nothing
    * after the first agg grows with event volume; the explode grows with
    * users, not events — the reason Poisson beats resample-and-rerun at
    * 100 TB (64 corpus passes collapse into one).
    */
  private def eventsBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    // Poisson(1) inverse-CDF thresholds in millionths: P(X<=k) for k=0..6,
    // floored to the same integer constants both engines compare against.
    val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L)
    val perUser = events(s, dir)
      .where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 1000).cast("long").as("v_milli"))
      .select(
        col("user_id"),
        col("v_milli"),
        (graft.functions.Hashing.h32(col("user_id").cast("string")) % 2).as("bucket")
      )
    val point = perUser
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("v_milli")).as("sv"))
    val pointRow = point.where(col("bucket") === 0)
      .select(col("n").as("n_a"), col("sv").as("sv_a"))
      .crossJoin(broadcast(point.where(col("bucket") === 1)
        .select(col("n").as("n_b"), col("sv").as("sv_b"))))
      .select(
        col("n_a"), col("n_b"),
        expr("sv_b div n_b - sv_a div n_a").as("diff_point_milli"))
    val wExpr = cdf.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN ${k}L" }
      .mkString("CASE ", " ", " ELSE 7L END")
    val reps = perUser
      .select(col("user_id"), col("v_milli"), col("bucket"),
        explode(sequence(lit(0), lit(63))).as("r"))
      .select(col("v_milli"), col("bucket"), col("r"),
        (graft.functions.Hashing.h32(
          concat(lit("bs"), col("r").cast("string"), lit(":"), col("user_id").cast("string"))
        ) % 1000000).as("u"))
      .select(col("v_milli"), col("bucket"), col("r"), expr(wExpr).as("w"))
      .groupBy(col("r"), col("bucket"))
      .agg(sum(col("w")).as("sw"), sum(col("w") * col("v_milli")).as("swv"))
      .select(col("r"), col("bucket"),
        expr("CASE WHEN sw = 0 THEN 0L ELSE swv div sw END").as("m"))
    val diffs = reps.where(col("bucket") === 0).select(col("r"), col("m").as("m_a"))
      .join(reps.where(col("bucket") === 1).select(col("r"), col("m").as("m_b")), Seq("r"))
      .select((col("m_b") - col("m_a")).as("d"))
    val ranked = diffs.select(col("d"),
      row_number().over(Window.orderBy(col("d").asc)).as("rk"))
    val ci = ranked.where(col("rk") === 2).select(col("d").as("ci_lo_milli"))
      .crossJoin(broadcast(ranked.where(col("rk") === 63).select(col("d").as("ci_hi_milli"))))
    pointRow.crossJoin(broadcast(ci))
      .select(
        col("n_a"), col("n_b"), col("diff_point_milli"),
        col("ci_lo_milli"), col("ci_hi_milli"),
        when(col("ci_lo_milli") > 0 || col("ci_hi_milli") < 0, 1L).otherwise(0L)
          .as("excludes_zero"))
  }

  private val eventsBootstrapCiSql = {
    val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L)
    val wExpr = cdf.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 7 END")
    s"""WITH per_user AS MATERIALIZED (
       |  SELECT user_id,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 1000 AS BIGINT) AS v_milli,
       |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS bucket
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |point AS (
       |  SELECT bucket, count(*) AS n, CAST(sum(v_milli) AS BIGINT) AS sv
       |  FROM per_user GROUP BY 1),
       |point_row AS (
       |  SELECT a.n AS n_a, b.n AS n_b, b.sv // b.n - a.sv // a.n AS diff_point_milli
       |  FROM (SELECT * FROM point WHERE bucket = 0) a,
       |       (SELECT * FROM point WHERE bucket = 1) b),
       |reps AS MATERIALIZED (
       |  SELECT r, bucket,
       |    CASE WHEN sum(w) = 0 THEN 0
       |         ELSE CAST(sum(w * v_milli) AS BIGINT) // CAST(sum(w) AS BIGINT) END AS m
       |  FROM (
       |    SELECT r, bucket, v_milli, $wExpr AS w
       |    FROM (
       |      SELECT g.r, p.bucket, p.v_milli,
       |        CAST('0x' || substr(md5('bs' || CAST(g.r AS VARCHAR) || ':' ||
       |          CAST(p.user_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000000 AS u
       |      FROM per_user p, generate_series(0, 63) AS g(r)))
       |  GROUP BY 1, 2),
       |diffs AS (
       |  SELECT b.m - a.m AS d
       |  FROM (SELECT r, m FROM reps WHERE bucket = 0) a
       |  JOIN (SELECT r, m FROM reps WHERE bucket = 1) b USING (r)),
       |ranked AS (SELECT d, row_number() OVER (ORDER BY d ASC) AS rk FROM diffs),
       |ci AS (
       |  SELECT lo.d AS ci_lo_milli, hi.d AS ci_hi_milli
       |  FROM (SELECT d FROM ranked WHERE rk = 2) lo,
       |       (SELECT d FROM ranked WHERE rk = 63) hi)
       |SELECT n_a, n_b, diff_point_milli, ci_lo_milli, ci_hi_milli,
       |  CAST(CASE WHEN ci_lo_milli > 0 OR ci_hi_milli < 0 THEN 1 ELSE 0 END AS BIGINT)
       |    AS excludes_zero
       |FROM point_row, ci""".stripMargin
  }

  // --------------------------- brand modularity of the co-purchase graph (B239)

  /** Newman modularity of the BRAND partition over the B148 co-purchase
    * graph (`graph_brand_modularity`): does the catalog's own taxonomy
    * explain which parts sell together, or are co-purchases
    * brand-agnostic? Q = Σ_c [e_c/m − (d_c/2m)²], computed as the exact
    * integer Σ_c (4·m·e_c − d_c²) · 10⁶ div (4·m²) — engine-identical.
    * The numerator is bounded by 4m² and carries a ×10⁶ scale, so it is
    * evaluated in DECIMAL(38,0) (HUGEINT in the oracle): exact past 10⁹
    * edges, where a BIGINT intermediate would wrap from ~1.5e6 edges. Emits
    * the per-brand contribution table (within-edges, degree mass, nodes)
    * with the global Q beside it — the baseline any learned community
    * assignment (B148's components, a future Louvain) must beat.
    *
    * Scale shape: the edge build is GraphOps' two-hash-agg pair pass
    * (no joins, stats-derived partitioning — the sf10-fixed shape); the
    * support-pruned edge list then joins part twice ON ITS OWN SIZE
    * (pairs, not baskets), degree mass is one explode of that bounded
    * list, and everything after is a ≤|brands|-key agg with 1-row
    * broadcast totals.
    */
  private def graphBrandModularity(s: SparkSession, dir: String): DataFrame = {
    val brands = part(s, dir).select(col("p_partkey"), col("p_brand"))
    val edges = operators.GraphOps.copurchaseEdges(lineitem(s, dir), 2L)
      .join(brands.select(col("p_partkey").as("u"), col("p_brand").as("brand_u")), Seq("u"))
      .join(brands.select(col("p_partkey").as("v"), col("p_brand").as("brand_v")), Seq("v"))
      .localCheckpoint(true)
    val m = edges.agg(count(lit(1)).as("m"))
    val within = edges.where(col("brand_u") === col("brand_v"))
      .groupBy(col("brand_u").as("brand"))
      .agg(count(lit(1)).as("e_within"))
    val degree = edges
      .select(explode(array(
        struct(col("u").as("node"), col("brand_u").as("brand")),
        struct(col("v").as("node"), col("brand_v").as("brand")))).as("x"))
      .select(col("x.node").as("node"), col("x.brand").as("brand"))
      .groupBy(col("brand"))
      .agg(count(lit(1)).as("d_sum"), count_distinct(col("node")).as("n_nodes"))
    val perBrand = degree
      .join(within, Seq("brand"), "left")
      .na.fill(0L, Seq("e_within"))
      .crossJoin(broadcast(m))
      .select(
        col("brand"), col("n_nodes"), col("e_within"), col("d_sum"),
        // numerator is bounded by 4m² and gets a further ×10⁶ before the
        // divide — at m ~ 1.5e6 edges that wraps int64 silently in Spark
        // (non-ANSI) while DuckDB raises, a cross-engine divergence. The
        // whole expression runs in DECIMAL(38,0) (HUGEINT on the oracle
        // side): exact to 4m²·10⁶ < 10³⁸, i.e. past 10⁹ edges; `div` on
        // decimals yields BIGINT, so the output schema is unchanged.
        expr(
          "(4 * CAST(m AS DECIMAL(38,0)) * e_within - CAST(d_sum AS DECIMAL(38,0)) * d_sum)" +
            " * 1000000 div (4 * CAST(m AS DECIMAL(38,0)) * m)")
          .as("contrib_ppm"),
        expr("4 * CAST(m AS DECIMAL(38,0)) * e_within - CAST(d_sum AS DECIMAL(38,0)) * d_sum")
          .as("num"))
    val q = perBrand
      .crossJoin(broadcast(m))
      .agg(expr("sum(num) * 1000000 div (4 * CAST(max(m) AS DECIMAL(38,0)) * max(m))").as("q_ppm"))
    perBrand
      .crossJoin(broadcast(q))
      .select(col("brand"), col("n_nodes"), col("e_within"), col("d_sum"),
        col("contrib_ppm"), col("q_ppm"))
  }

  private val graphBrandModularitySql =
    """WITH pp AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM pp a JOIN pp b ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |eb AS MATERIALIZED (
      |  SELECT e.u, e.v, pu.p_brand AS brand_u, pv.p_brand AS brand_v
      |  FROM e JOIN part pu ON pu.p_partkey = e.u
      |         JOIN part pv ON pv.p_partkey = e.v),
      |m AS (SELECT count(*) AS m FROM eb),
      |w AS (SELECT brand_u AS brand, count(*) AS e_within FROM eb
      |  WHERE brand_u = brand_v GROUP BY 1),
      |inc AS (
      |  SELECT u AS node, brand_u AS brand FROM eb
      |  UNION ALL
      |  SELECT v AS node, brand_v AS brand FROM eb),
      |deg AS (
      |  SELECT brand, count(*) AS d_sum, count(DISTINCT node) AS n_nodes
      |  FROM inc GROUP BY 1),
      |per_brand AS (
      |  SELECT d.brand, d.n_nodes, coalesce(w.e_within, 0) AS e_within, d.d_sum,
      |    CAST((4 * CAST(m.m AS HUGEINT) * coalesce(w.e_within, 0) - CAST(d.d_sum AS HUGEINT) * d.d_sum) * 1000000
      |      // (4 * CAST(m.m AS HUGEINT) * m.m) AS BIGINT) AS contrib_ppm,
      |    4 * CAST(m.m AS HUGEINT) * coalesce(w.e_within, 0) - CAST(d.d_sum AS HUGEINT) * d.d_sum AS num
      |  FROM deg d LEFT JOIN w ON w.brand = d.brand, m),
      |q AS (SELECT CAST(sum(num) * 1000000 // (4 * CAST(max(m.m) AS HUGEINT) * max(m.m)) AS BIGINT) AS q_ppm
      |  FROM per_brand, m)
      |SELECT brand, n_nodes, e_within, d_sum, contrib_ppm, q_ppm
      |FROM per_brand, q""".stripMargin

  // --------------------------- Markov stationary distribution (B240)

  /** Stationary distribution of B61's event-type Markov chain
    * (`events_markov_stationary`): where user behavior settles under the
    * observed transition dynamics, beside where it is today — the gap
    * (and its total-variation summary) is the "is the product drifting
    * toward error/churn states" lens a transition matrix alone doesn't
    * give. All integer: transition probabilities in ppm (B61's exact
    * floor convention), π iterated 16 times as π′_j = Σ_i π_i·p_ij div
    * 10⁶ from a uniform start — both engines run the identical fixed
    * recurrence, so the result is bit-identical (no eigen-solver, no
    * float drift); 16 iterations settle a 5-state chain far below ppm
    * resolution.
    *
    * Scale shape: the transition count is B61's per-user lag window
    * (bounded per user) into a TYPES²-key hash-agg. The ppm matrix is
    * then METADATA-sized by construction (≤ types² rows — the r14
    * verdict's #7 watch item asked exactly this question), so — r15
    * optimization, the B237/PCA split — the 16 fixed-point iterations
    * run on the COLLECTED matrix in plain Scala with the identical
    * integer recurrence (long Σ pi·p_ppm, then truncating /10⁶), instead
    * of 19 eager localCheckpoints of a ≤types-row vector (pure per-job
    * overhead at any corpus size). The corpus-sized work — the lag
    * window and the empirical distribution — stays in Spark unchanged.
    */
  private def eventsMarkovStationary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = events(s, dir)
      .select(col("event_type").as("curr_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("curr_type"))
      .agg(count(lit(1)).as("n_trans"))
    // r16 guard: ≤ |event types|² is a property of the current data, not
    // a construction bound — fail loudly if a high-cardinality event_type
    // fixture ever voids the model-sized assumption
    val pRows = operators.DriverBound.collectBounded(
      trans.select(
        col("prev_type"), col("curr_type"),
        expr("n_trans * 1000000 div sum(n_trans) OVER (PARTITION BY prev_type)").as("p_ppm")),
      "events_markov_stationary transition matrix (event types²)")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val states = pRows.map(_._1).distinct
    val k      = states.length.toLong
    // π₀ uniform; π′_j = Σ_i π_i·p_ij div 10⁶ — the same recurrence the
    // checkpointed-vector loop ran, keyed identically (states absent
    // from an iteration's image simply drop out, exactly like the old
    // join-then-groupBy)
    var pi: Map[String, Long] =
      if (k == 0) Map.empty else states.map(st => st -> 1000000L / k).toMap
    for (_ <- 1 to 16) {
      pi = pRows
        .filter { case (prev, _, _) => pi.contains(prev) }
        .groupBy(_._2)
        .map { case (cur, rs) =>
          cur -> rs.map { case (prev, _, ppm) => pi(prev) * ppm }.sum / 1000000L
        }
    }
    val stationary = states.toSeq
      .map(st => (st, pi.getOrElse(st, 0L)))
      .toDF("state", "stationary_ppm")
    val empirical = events(s, dir)
      .groupBy(col("event_type").as("state"))
      .agg(count(lit(1)).as("n"))
      .select(col("state"), col("n"),
        expr("n * 1000000 div sum(n) OVER ()").as("empirical_ppm"))
    val joined = stationary
      .join(empirical.select(col("state"), col("empirical_ppm")), Seq("state"), "left")
      .na.fill(0L, Seq("empirical_ppm"))
      .select(col("state"), col("stationary_ppm"), col("empirical_ppm"),
        (col("stationary_ppm") - col("empirical_ppm")).as("gap_ppm"))
    val tv = joined.agg(expr("sum(abs(gap_ppm)) div 2").as("tv_ppm"))
    joined.crossJoin(broadcast(tv))
      .select(col("state"), col("stationary_ppm"), col("empirical_ppm"),
        col("gap_ppm"), col("tv_ppm"))
  }

  private val eventsMarkovStationarySql = {
    def iter(prev: String, cur: String): String =
      s"""pi$cur AS MATERIALIZED (
         |  SELECT p.curr_type AS state,
         |    CAST(sum(v.pi * p.p_ppm) AS BIGINT) // 1000000 AS pi
         |  FROM p JOIN pi$prev v ON v.state = p.prev_type GROUP BY 1)""".stripMargin
    s"""WITH seq AS (SELECT event_type AS curr_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
       |  FROM events),
       |t AS (SELECT prev_type, curr_type, count(*) AS n_trans
       |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       |p AS MATERIALIZED (
       |  SELECT prev_type, curr_type,
       |    n_trans * 1000000 // sum(n_trans) OVER (PARTITION BY prev_type) AS p_ppm
       |  FROM t),
       |states AS MATERIALIZED (SELECT DISTINCT prev_type AS state FROM p),
       |pi0 AS MATERIALIZED (
       |  SELECT state, 1000000 // (SELECT count(*) FROM states) AS pi FROM states),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")},
       |${iter("3", "4")},
       |${iter("4", "5")},
       |${iter("5", "6")},
       |${iter("6", "7")},
       |${iter("7", "8")},
       |${iter("8", "9")},
       |${iter("9", "10")},
       |${iter("10", "11")},
       |${iter("11", "12")},
       |${iter("12", "13")},
       |${iter("13", "14")},
       |${iter("14", "15")},
       |${iter("15", "16")},
       |emp AS (
       |  SELECT event_type AS state, count(*) AS n FROM events GROUP BY 1),
       |emp_p AS (
       |  SELECT state, n * 1000000 // CAST((SELECT sum(n) FROM emp) AS BIGINT)
       |    AS empirical_ppm FROM emp),
       |joined AS (
       |  SELECT s.state,
       |    coalesce(p16.pi, 0) AS stationary_ppm,
       |    coalesce(e.empirical_ppm, 0) AS empirical_ppm,
       |    coalesce(p16.pi, 0) - coalesce(e.empirical_ppm, 0) AS gap_ppm
       |  FROM states s
       |  LEFT JOIN pi16 p16 ON p16.state = s.state
       |  LEFT JOIN emp_p e ON e.state = s.state),
       |tv AS (SELECT CAST(sum(abs(gap_ppm)) AS BIGINT) // 2 AS tv_ppm FROM joined)
       |SELECT state, stationary_ppm, empirical_ppm, gap_ppm, tv_ppm
       |FROM joined, tv""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_bootstrap_ci", Seq("B238"), eventsBootstrapCi, eventsBootstrapCiSql),
    QuerySpec("graph_brand_modularity", Seq("B239"), graphBrandModularity, graphBrandModularitySql),
    QuerySpec("events_markov_stationary", Seq("B240"), eventsMarkovStationary, eventsMarkovStationarySql)
  )
}
