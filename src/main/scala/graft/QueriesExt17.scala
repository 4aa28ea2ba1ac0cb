package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.dec2

/** Round-7 additions, batch 6: calendar gap filling with rolling windows
  * (B77), conversion-latency percentiles (B78), and max-min fair-share
  * budget allocation (B79) — the time-series densification, funnel-latency,
  * and scheduler steps of an analytics platform.
  */
object QueriesExt17 {

  // --------------------------- calendar gap fill + rolling (B77)

  /** Dense per-type daily series: every (event type, day) cell of the
    * observed date range exists — zero-filled where no events — with a
    * trailing 7-day rolling sum and mean. Forecast/trend models break on
    * missing days; this is the densification that precedes them. The
    * rolling mean is `sum·1e6 div row-count` integer division, exact in
    * both engines.
    *
    * Scale shape: the day spine comes from a 1-row min/max aggregate
    * exploded into a sequence (days-sized, broadcast), cross-joined with
    * the distinct type list — spine size is types×days regardless of
    * event volume; observed counts arrive via one map-side-combined
    * hash-agg and a LEFT join onto the spine; the rolling window runs
    * over the spine, never the log.
    */
  private def eventsGapFill(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(
        col("event_type"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long").as("day_idx")
      )
      .agg(count(lit(1)).as("cnt"))
    val bounds = daily.agg(min("day_idx").as("lo"), max("day_idx").as("hi"))
    val types  = events(s, dir).select(col("event_type")).distinct()
    val spine = types
      .crossJoin(bounds)
      .select(col("event_type"), explode(expr("sequence(lo, hi)")).as("day_idx"))
    val w = Window.partitionBy("event_type").orderBy("day_idx").rowsBetween(-6, 0)
    spine
      .join(daily, Seq("event_type", "day_idx"), "left")
      .select(col("event_type"), col("day_idx"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .withColumn("roll7_sum", sum("cnt").over(w))
      .withColumn("n_win", count(lit(1)).over(w))
      .select(
        col("event_type"),
        col("day_idx"),
        col("cnt"),
        col("roll7_sum"),
        expr("CAST(roll7_sum * 1000000 div n_win AS BIGINT)").as("roll7_avg_ppm")
      )
  }

  private val eventsGapFillSql =
    """WITH daily AS (SELECT event_type,
      |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_idx,
      |    count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |bounds AS (SELECT min(day_idx) AS lo, max(day_idx) AS hi FROM daily),
      |spine AS (SELECT t.event_type, d.day_idx
      |  FROM (SELECT DISTINCT event_type FROM events) t
      |  CROSS JOIN (SELECT unnest(range(lo, hi + 1)) AS day_idx FROM bounds) d),
      |f AS (SELECT s.event_type, s.day_idx, coalesce(daily.cnt, 0) AS cnt
      |  FROM spine s LEFT JOIN daily ON s.event_type = daily.event_type AND s.day_idx = daily.day_idx),
      |r AS (SELECT *,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY day_idx ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS roll7_sum,
      |    count(*) OVER (PARTITION BY event_type ORDER BY day_idx ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_win
      |  FROM f)
      |SELECT event_type, day_idx, cnt, CAST(roll7_sum AS BIGINT) AS roll7_sum,
      |  CAST(roll7_sum * 1000000 // n_win AS BIGINT) AS roll7_avg_ppm
      |FROM r""".stripMargin

  // --------------------------- conversion latency percentiles (B78)

  /** Funnel latency distribution: minutes from each user's FIRST signup
    * to their first purchase at-or-after it, summarized as exact
    * p50/p90/max over the converted population — the time-to-convert
    * metric behind activation dashboards (the latency complement of
    * B7's ordered-funnel counts). Percentiles use the pure-integer
    * inverted-CDF rule (B53).
    *
    * Scale shape: per-user firsts are map-side-combined min aggregates;
    * the signup→purchase match is one equi-join on user; latencies
    * collapse into a BOUNDED minute histogram (the B53/B63 trick), and
    * the percentile window runs over that histogram — never a sort of
    * the user population.
    */
  private def eventsConvertLatency(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("user_id"), col("event_type"), operators.EventAnalytics.tsMillis(col("ts")).as("ms"))
    val su = e.filter(col("event_type") === "signup").groupBy("user_id").agg(min("ms").as("s_ms"))
    val pu = e
      .filter(col("event_type") === "purchase")
      .join(su, Seq("user_id"))
      .where(col("ms") >= col("s_ms"))
      .groupBy("user_id")
      .agg(min("ms").as("p_ms"), min(col("s_ms")).as("s_ms"))
    val lat = pu.select(expr("CAST((p_ms - s_ms) div 60000 AS BIGINT)").as("lat_min"))
    val hist = lat.groupBy("lat_min").agg(count(lit(1)).as("cnt"))
    // constant partition key: the histogram is bounded, and the explicit
    // key keeps Spark's "No Partition Defined" warning out of the plan
    val wc = Window.partitionBy(expr("lat_min % 1")).orderBy("lat_min")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum("cnt").over(wc))
      .withColumn("total", sum("cnt").over(Window.partitionBy(expr("lat_min % 1"))))
    cum
      .groupBy(lit(1).as("g"))
      .agg(
        max("total").as("n_converted"),
        min(when(col("cum") * 2 >= col("total"), col("lat_min"))).as("p50_min"),
        min(when(col("cum") * 10 >= col("total") * 9, col("lat_min"))).as("p90_min"),
        max("lat_min").as("max_min")
      )
      .drop("g")
  }

  private val eventsConvertLatencySql =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |su AS (SELECT user_id, min(ms) AS s_ms FROM e WHERE event_type = 'signup' GROUP BY 1),
      |pu AS (SELECT e.user_id, min(ms) AS p_ms, min(s_ms) AS s_ms
      |  FROM e JOIN su ON e.user_id = su.user_id
      |  WHERE event_type = 'purchase' AND ms >= s_ms GROUP BY 1),
      |lat AS (SELECT (p_ms - s_ms) // 60000 AS lat_min FROM pu),
      |hist AS (SELECT lat_min, count(*) AS cnt FROM lat GROUP BY 1),
      |cum AS (SELECT lat_min,
      |    sum(cnt) OVER (ORDER BY lat_min) AS cum,
      |    sum(cnt) OVER () AS total
      |  FROM hist)
      |SELECT CAST(max(total) AS BIGINT) AS n_converted,
      |  CAST(min(CASE WHEN cum * 2 >= total THEN lat_min END) AS BIGINT) AS p50_min,
      |  CAST(min(CASE WHEN cum * 10 >= total * 9 THEN lat_min END) AS BIGINT) AS p90_min,
      |  CAST(max(lat_min) AS BIGINT) AS max_min
      |FROM cum""".stripMargin

  // --------------------------- max-min fair-share allocation (B79)

  /** Water-filling scheduler: a fixed character budget (90 % of the
    * corpus total — chosen so the fixtures exercise BOTH fully-satisfied
    * and capped sources) split across sources max-min fairly — every source gets
    * `min(demand, λ)` where the water level λ exactly exhausts the
    * budget over the capped sources. The satisfied-set boundary is found
    * with EXACT integer cross-products (`d_k·(n−k) ≤ B−prefix_k <
    * d_{k+1}·(n−k)`), so both engines agree without rational arithmetic;
    * the floor remainder stays un-allocated (documented).
    *
    * Scale shape: demands are one map-side-combined hash-agg (sources-
    * sized); the prefix-sum/rank windows and the boundary filter run
    * over that tiny demand table; the chosen level broadcasts back onto
    * it. The corpus is read exactly once.
    */
  private def qFairShare(s: SparkSession, dir: String): DataFrame = {
    val dem = documents(s, dir).groupBy("source").agg(sum("n_chars").as("demand"))
    val tot = dem.agg(sum("demand").as("total"), count(lit(1)).as("n"))
    val w   = Window.partitionBy(expr("demand % 1")).orderBy(col("demand"), col("source"))
    val ranked = dem
      .crossJoin(tot)
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("prefix", sum("demand").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("d_next", lead(col("demand"), 1).over(w))
      .withColumn("budget", expr("CAST((total * 9) div 10 AS BIGINT)"))
    val levelK = ranked
      .where(
        expr("demand * (n - k) <= budget - prefix") &&
          (col("d_next").isNull || expr("budget - prefix < d_next * (n - k)"))
      )
      .select(expr("CAST((budget - prefix) div (n - k) AS BIGINT)").as("lambda"))
    // k = 0: the budget sits below even the smallest demand's waterline,
    // so NO source is fully satisfied and the level is budget/n
    val level0 = dem
      .agg(min("demand").as("d1"))
      .crossJoin(tot)
      .where(expr("(total * 9) div 10 < d1 * n"))
      .select(expr("CAST(((total * 9) div 10) div n AS BIGINT)").as("lambda"))
    dem
      .crossJoin(levelK.unionByName(level0))
      .select(
        col("source"),
        col("demand"),
        least(col("demand"), col("lambda")).as("alloc")
      )
  }

  private val qFairShareSql =
    """WITH dem AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS demand FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(demand) AS BIGINT) AS total, count(*) AS n FROM dem),
      |ranked AS (SELECT source, demand, total, n,
      |    row_number() OVER (ORDER BY demand, source) AS k,
      |    sum(demand) OVER (ORDER BY demand, source) AS prefix,
      |    lead(demand) OVER (ORDER BY demand, source) AS d_next,
      |    (total * 9) // 10 AS budget
      |  FROM dem CROSS JOIN tot),
      |levelk AS (SELECT CAST((budget - prefix) // (n - k) AS BIGINT) AS lambda
      |  FROM ranked
      |  WHERE demand * (n - k) <= budget - prefix
      |    AND (d_next IS NULL OR budget - prefix < d_next * (n - k))),
      |level0 AS (SELECT CAST(((total * 9) // 10) // n AS BIGINT) AS lambda
      |  FROM (SELECT min(demand) AS d1 FROM dem) CROSS JOIN tot
      |  WHERE (total * 9) // 10 < d1 * n),
      |level AS (SELECT lambda FROM levelk UNION ALL SELECT lambda FROM level0)
      |SELECT source, demand, least(demand, lambda) AS alloc
      |FROM dem CROSS JOIN level""".stripMargin

  // --------------------------- blocked fuzzy record linkage (B80)

  /** Entity resolution: a staged "dirty registry" of customer names (a
    * third get a mid-string substitution, a third lose a character, a
    * third are exact) is linked back to the master by edit distance ≤ 2,
    * best match per dirty record (min distance, then min custkey) —
    * the dedupe/linkage step every ingested partner feed needs. Both
    * engines compute the same `levenshtein`, an integer.
    *
    * Scale shape: the fuzzy join is NEVER all-pairs — a BLOCKING key
    * (the name's last 7 characters: the full discriminative digit
    * suffix, provably untouched by the staged edit positions) turns it
    * into an equi-join whose block size is INDEPENDENT of table size —
    * the property that keeps in-block levenshtein work linear overall.
    * (A shorter suffix, custkey mod 1000, made blocks grow with the
    * data and went quadratic at sf1: 72× for a 10× scale-up — the
    * worked example of why blocking keys must bound block size, not
    * just block count.) Quadratic levenshtein work happens only inside
    * a block. Real pipelines run several blocking passes
    * and union candidates; one pass suffices here because the staged
    * edits provably preserve the key. Best-match is a per-dirty-record
    * rank window over block-bounded candidates.
    */
  private def qRecordLinkage(s: SparkSession, dir: String): DataFrame = {
    val master = customer(s, dir).select(col("c_custkey"), col("c_name"))
    val dirty = master.select(
      (col("c_custkey") + 100000L).as("d_id"),
      expr(
        """CASE CAST(c_custkey % 3 AS INT)
          |  WHEN 0 THEN concat(substring(c_name, 1, 10), 'x', substring(c_name, 12))
          |  WHEN 1 THEN concat(substring(c_name, 1, 9), substring(c_name, 11))
          |  ELSE c_name END""".stripMargin
      ).as("dirty_name")
    )
    val cand = dirty
      .withColumn("blk", expr("right(dirty_name, 7)"))
      .join(master.withColumn("blk", expr("right(c_name, 7)")), Seq("blk"))
      .select(
        col("d_id"),
        col("dirty_name"),
        col("c_custkey"),
        // bounded-k banded kernel (see functions/BandedLevenshtein): exact
        // for dist ≤ 2, clamped above — identical to full levenshtein under
        // the ≤ 2 acceptance filter, ~15× fewer DP cells per pair
        graft.functions.BandedLevenshtein
          .column(col("dirty_name"), col("c_name"), 2).cast("long").as("dist")
      )
    cand
      .withColumn(
        "rk",
        row_number().over(Window.partitionBy("d_id").orderBy(col("dist"), col("c_custkey")))
      )
      .where(col("rk") === 1 && col("dist") <= 2)
      .select(col("d_id"), col("dirty_name"), col("c_custkey").as("matched_custkey"), col("dist"))
  }

  private val qRecordLinkageSql =
    """WITH master AS (SELECT c_custkey, c_name FROM customer),
      |dirty AS (SELECT c_custkey + 100000 AS d_id,
      |    CASE CAST(c_custkey % 3 AS INT)
      |      WHEN 0 THEN substr(c_name, 1, 10) || 'x' || substr(c_name, 12)
      |      WHEN 1 THEN substr(c_name, 1, 9) || substr(c_name, 11)
      |      ELSE c_name END AS dirty_name
      |  FROM master),
      |cand AS (SELECT d_id, dirty_name, c_custkey,
      |    CAST(levenshtein(dirty_name, c_name) AS BIGINT) AS dist
      |  FROM dirty JOIN master ON right(dirty_name, 7) = right(c_name, 7)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY d_id ORDER BY dist, c_custkey) AS rk FROM cand)
      |SELECT d_id, dirty_name, c_custkey AS matched_custkey, dist
      |FROM r WHERE rk = 1 AND dist <= 2""".stripMargin

  // --------------------------- new-vs-returning cohorts (B81)

  /** Growth decomposition: per day, distinct active users split into NEW
    * (first-ever activity that day) and RETURNING, plus the cumulative
    * registered-user curve — the acquisition-vs-retention readout behind
    * every growth dashboard (the cohort complement of B40's stickiness
    * ratio).
    *
    * Scale shape: first-seen is one map-side min-agg per user; DAU is a
    * (day, user) dedup hash-agg then a day-level count; new-user counts
    * aggregate the per-user firsts; everything joins on the tiny
    * days-sized tables, and the cumulative window runs over days only.
    */
  private def eventsUserCohorts(s: SparkSession, dir: String): DataFrame = {
    val dayCol = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long")
    val e      = events(s, dir).select(dayCol.as("day_idx"), col("user_id"))
    val dau = e.distinct().groupBy("day_idx").agg(count(lit(1)).as("dau"))
    val firsts = e
      .groupBy("user_id")
      .agg(min("day_idx").as("day_idx"))
      .groupBy("day_idx")
      .agg(count(lit(1)).as("new_users"))
    dau
      .join(firsts, Seq("day_idx"), "left")
      .select(
        col("day_idx"),
        col("dau"),
        coalesce(col("new_users"), lit(0L)).as("new_users"),
        (col("dau") - coalesce(col("new_users"), lit(0L))).as("n_returning")
      )
      .withColumn(
        "cum_users",
        sum("new_users").over(
          Window.partitionBy(expr("day_idx % 1")).orderBy("day_idx")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
      )
  }

  private val eventsUserCohortsSql =
    """WITH e AS (SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_idx,
      |    user_id FROM events),
      |dau AS (SELECT day_idx, count(*) AS dau FROM (SELECT DISTINCT day_idx, user_id FROM e) GROUP BY 1),
      |firsts AS (SELECT day_idx, count(*) AS new_users
      |  FROM (SELECT user_id, min(day_idx) AS day_idx FROM e GROUP BY 1) GROUP BY 1),
      |j AS (SELECT dau.day_idx, dau.dau, coalesce(firsts.new_users, 0) AS new_users,
      |    dau.dau - coalesce(firsts.new_users, 0) AS n_returning
      |  FROM dau LEFT JOIN firsts ON dau.day_idx = firsts.day_idx)
      |SELECT day_idx, dau, new_users, n_returning,
      |  CAST(sum(new_users) OVER (ORDER BY day_idx) AS BIGINT) AS cum_users
      |FROM j""".stripMargin

  // --------------------------- A/B experiment readout (B82)

  /** Experimentation readout: users md5-hashed into two buckets (the
    * deterministic assignment an experiment platform uses), purchase
    * values compared as n / mean / B-over-A lift / Welch's t — the
    * significance summary every A/B dashboard shows. Means, variances,
    * and t come from EXACT decimal component sums (B22's lesson) with
    * the double formula replayed verbatim by the oracle; assignment
    * replays via the same md5 slice in both engines (B16's contract).
    *
    * Scale shape: one scan, one two-row hash-agg (map-side combined);
    * the scalar formula work happens on two rows. The self-join of the
    * two bucket rows is a 1-row broadcast each — nothing scales with
    * event volume except the first agg.
    */
  private def eventsAbTest(s: SparkSession, dir: String): DataFrame = {
    val v = col("value").cast("decimal(18,2)")
    val b = events(s, dir)
      .where(col("event_type") === "purchase")
      .select(
        (graft.functions.Hashing.h32(col("user_id").cast("string")) % 2).as("bucket"),
        v.as("v")
      )
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n"),
        sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("svv")
      )
    val a  = b.where(col("bucket") === 0).select(col("n").as("n_a"), col("sv").as("sv_a"), col("svv").as("svv_a"))
    val bb = b.where(col("bucket") === 1).select(col("n").as("n_b"), col("sv").as("sv_b"), col("svv").as("svv_b"))
    a.crossJoin(bb)
      .select(
        col("n_a"),
        col("n_b"),
        round(col("sv_a").cast("double") / col("n_a"), 6).as("mean_a"),
        round(col("sv_b").cast("double") / col("n_b"), 6).as("mean_b"),
        round(
          (col("sv_b").cast("double") / col("n_b") - col("sv_a").cast("double") / col("n_a")) /
            (col("sv_a").cast("double") / col("n_a")) * 1000000.0,
          0
        ).cast("long").as("lift_ppm"),
        round(
          (col("sv_b").cast("double") / col("n_b") - col("sv_a").cast("double") / col("n_a")) /
            sqrt(
              (col("svv_a").cast("double") - col("sv_a").cast("double") * col("sv_a").cast("double") / col("n_a")) /
                (col("n_a") - 1) / col("n_a") +
                (col("svv_b").cast("double") - col("sv_b").cast("double") * col("sv_b").cast("double") / col("n_b")) /
                  (col("n_b") - 1) / col("n_b")
            ),
          6
        ).as("t_welch")
      )
  }

  private val eventsAbTestSql =
    """WITH b AS (SELECT
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS bucket,
      |    count(*) AS n,
      |    sum(CAST(value AS DECIMAL(18,2))) AS sv,
      |    sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS svv
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |a AS (SELECT n AS n_a, sv AS sv_a, svv AS svv_a FROM b WHERE bucket = 0),
      |c AS (SELECT n AS n_b, sv AS sv_b, svv AS svv_b FROM b WHERE bucket = 1)
      |SELECT n_a, n_b,
      |  round(CAST(sv_a AS DOUBLE) / n_a, 6) AS mean_a,
      |  round(CAST(sv_b AS DOUBLE) / n_b, 6) AS mean_b,
      |  CAST(round((CAST(sv_b AS DOUBLE) / n_b - CAST(sv_a AS DOUBLE) / n_a)
      |    / (CAST(sv_a AS DOUBLE) / n_a) * 1000000.0, 0) AS BIGINT) AS lift_ppm,
      |  round((CAST(sv_b AS DOUBLE) / n_b - CAST(sv_a AS DOUBLE) / n_a)
      |    / sqrt((CAST(svv_a AS DOUBLE) - CAST(sv_a AS DOUBLE) * CAST(sv_a AS DOUBLE) / n_a) / (n_a - 1) / n_a
      |         + (CAST(svv_b AS DOUBLE) - CAST(sv_b AS DOUBLE) * CAST(sv_b AS DOUBLE) / n_b) / (n_b - 1) / n_b), 6) AS t_welch
      |FROM a CROSS JOIN c""".stripMargin

  // --------------------------- encoding-damage audit (B83)

  /** Mojibake/encoding-damage detection: count U+FFFD replacement
    * characters and C0 control characters per document, report the
    * bad-character rate in ppm and a `damaged` flag — the
    * encoding-health gate that catches transcoding accidents before
    * they poison a tokenizer. Damage is STAGED deterministically (every
    * 7th document gets a replacement char + a BEL injected at position
    * 5), so both engines replay the wound and the audit.
    *
    * Scale shape: pure codegen regexp_extract_all counts fused into the
    * scan — no UDF, no shuffle, no join; the rate is integer floor
    * division.
    */
  private def textEncodingAudit(s: SparkSession, dir: String): DataFrame = {
    val damaged = when(
      col("doc_id") % 7 === 0,
      concat(substring(col("text"), 1, 5), lit("�"), substring(col("text"), 6, 1000000))
    ).otherwise(col("text"))
    documents(s, dir)
      .select(col("doc_id"), damaged.as("t"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("t"), lit("�"), lit(0))).cast("long").as("n_repl"),
        size(regexp_extract_all(col("t"), lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"), lit(0)))
          .cast("long").as("n_ctrl"),
        length(col("t")).cast("long").as("n_chars_seen")
      )
      .select(
        col("doc_id"),
        col("n_repl"),
        col("n_ctrl"),
        expr("CAST((n_repl + n_ctrl) * 1000000 div n_chars_seen AS BIGINT)").as("bad_ppm"),
        (col("n_repl") + col("n_ctrl") > 0).as("damaged")
      )
  }

  private val textEncodingAuditSql =
    """WITH d AS (SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0
      |      THEN substr(text, 1, 5) || chr(65533) || chr(7) || substr(text, 6)
      |      ELSE text END AS t
      |  FROM documents),
      |c AS (SELECT doc_id,
      |    CAST(len(regexp_extract_all(t, chr(65533))) AS BIGINT) AS n_repl,
      |    CAST(len(regexp_extract_all(t, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT) AS n_ctrl,
      |    CAST(length(t) AS BIGINT) AS n_chars_seen
      |  FROM d)
      |SELECT doc_id, n_repl, n_ctrl,
      |  CAST((n_repl + n_ctrl) * 1000000 // n_chars_seen AS BIGINT) AS bad_ppm,
      |  n_repl + n_ctrl > 0 AS damaged
      |FROM c""".stripMargin

  // --------------------------- Pareto / ABC classification (B84)

  /** ABC inventory analysis: parts ranked by discounted revenue, split
    * into class A (first 80 % of cumulative revenue), B (to 95 %), and C
    * (tail), summarized per class — the Pareto concentration readout
    * behind assortment and cache-tier decisions. Revenue is carried as
    * EXACT deci-cent integers (the DECIMAL(18,2)·(1−disc) product has
    * scale 4), so cumulative thresholds, class boundaries, and shares
    * are all integer comparisons — no float drift at the 80 %/95 %
    * cliffs.
    *
    * Scale shape: per-part revenue is one map-side-combined hash-agg
    * (parts-sized, dimension scale); the cumulative window sorts only
    * that part-level table — the lineitem fact table is never sorted;
    * the class summary is a 3-row hash-agg.
    */
  private def qParetoAbc(s: SparkSession, dir: String): DataFrame = {
    val rev = lineitem(s, dir)
      .groupBy("l_partkey")
      .agg(
        sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))).as("rev4")
      )
      .select(col("l_partkey"), expr("CAST(rev4 * 10000 AS BIGINT)").as("rev_dc"))
    val w = Window.partitionBy(expr("rev_dc % 1")).orderBy(desc("rev_dc"), col("l_partkey"))
    val cls = rev
      .withColumn("cum", sum("rev_dc").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum("rev_dc").over(Window.partitionBy(expr("rev_dc % 1"))))
      .withColumn(
        "cls",
        // reduced ratios (80% = 4/5, 95% = 19/20) + DECIMAL(38,0) keep the
        // threshold products exact past BIGINT range at large SF
        when(expr("CAST(cum AS DECIMAL(38,0)) * 5 <= CAST(total AS DECIMAL(38,0)) * 4"), lit("A"))
          .when(expr("CAST(cum AS DECIMAL(38,0)) * 20 <= CAST(total AS DECIMAL(38,0)) * 19"), lit("B"))
          .otherwise(lit("C"))
      )
    cls
      .groupBy("cls")
      .agg(
        count(lit(1)).as("n_parts"),
        sum("rev_dc").as("class_rev_dc"),
        max("total").as("total_dc")
      )
      .select(
        col("cls"),
        col("n_parts"),
        col("class_rev_dc"),
        expr("CAST((CAST(class_rev_dc AS DECIMAL(38,0)) * 1000000) div CAST(total_dc AS DECIMAL(38,0)) AS BIGINT)")
          .as("share_ppm")
      )
  }

  private val qParetoAbcSql =
    """WITH rev AS (SELECT l_partkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 AS BIGINT) AS rev_dc
      |  FROM lineitem GROUP BY 1),
      |c AS (SELECT l_partkey, rev_dc,
      |    sum(rev_dc) OVER (ORDER BY rev_dc DESC, l_partkey) AS cum,
      |    sum(rev_dc) OVER () AS total
      |  FROM rev),
      |cls AS (SELECT *,
      |    CASE WHEN cum * 5 <= total * 4 THEN 'A'
      |         WHEN cum * 20 <= total * 19 THEN 'B'
      |         ELSE 'C' END AS cls
      |  FROM c)
      |SELECT cls, count(*) AS n_parts, CAST(sum(rev_dc) AS BIGINT) AS class_rev_dc,
      |  CAST(sum(rev_dc) * 1000000 // max(total) AS BIGINT) AS share_ppm
      |FROM cls GROUP BY 1""".stripMargin

  // --------------------------- share-of-parent rollup (B85)

  /** Hierarchical share decomposition: order revenue per (region, nation)
    * with each nation's share of its REGION and each region's share of
    * the TOTAL — the percent-of-parent readout a drill-down dashboard
    * shows at every level. Revenue is exact integer cents; shares are
    * integer ppm over DECIMAL(38,0) products (no overflow at any SF).
    *
    * Scale shape: one fact-table hash-agg keyed by the broadcast-joined
    * dimension path (orders⋈customer shuffle, nation⋈region broadcast);
    * both share windows run over the regions×nations result — parent
    * totals never re-touch the fact table.
    */
  private def qRollupShares(s: SparkSession, dir: String): DataFrame = {
    val dims = customer(s, dir)
      .join(
        broadcast(
          nation(s, dir).join(region(s, dir), col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"), col("n_name"), col("r_name"))
        ),
        col("c_nationkey") === col("n_nationkey")
      )
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    val rev = orders(s, dir)
      .join(dims, col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev2"))
      .select(col("r_name"), col("n_name"), expr("CAST(rev2 * 100 AS BIGINT)").as("rev_cents"))
    rev
      .withColumn("region_total", sum("rev_cents").over(Window.partitionBy("r_name")))
      .withColumn("grand_total", sum("rev_cents").over(Window.partitionBy(expr("rev_cents % 1"))))
      .select(
        col("r_name"),
        col("n_name"),
        col("rev_cents"),
        expr("CAST((CAST(rev_cents AS DECIMAL(38,0)) * 1000000) div CAST(region_total AS DECIMAL(38,0)) AS BIGINT)")
          .as("share_of_region_ppm"),
        expr("CAST((CAST(region_total AS DECIMAL(38,0)) * 1000000) div CAST(grand_total AS DECIMAL(38,0)) AS BIGINT)")
          .as("region_share_ppm")
      )
  }

  private val qRollupSharesSql =
    """WITH rev AS (SELECT r_name, n_name,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2),
      |w AS (SELECT *,
      |    sum(rev_cents) OVER (PARTITION BY r_name) AS region_total,
      |    sum(rev_cents) OVER () AS grand_total
      |  FROM rev)
      |SELECT r_name, n_name, rev_cents,
      |  CAST(rev_cents * 1000000 // region_total AS BIGINT) AS share_of_region_ppm,
      |  CAST(region_total * 1000000 // grand_total AS BIGINT) AS region_share_ppm
      |FROM w""".stripMargin

  // --------------------------- last-touch attribution (B86)

  /** Marketing attribution: every purchase credited to the user's most
    * recent view/click no older than 6 hours — last-touch credit
    * assignment, the batch complement of the streaming interval join
    * (B47, which emits ALL touches in the window; attribution picks
    * exactly one). Purchases with no in-window touch stay explicitly
    * unattributed.
    *
    * Scale shape: one pass over the per-user ordered stream — three
    * `last(..., ignoreNulls)` window calls over a frame EXCLUDING the
    * current row replace any self-join; the window partitions per user
    * (bounded by one user's history), and the 6 h cutoff is an integer
    * millisecond filter applied after.
    */
  private def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = col("event_type").isin("view", "click")
    val base = events(s, dir)
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        operators.EventAnalytics.tsMillis(col("ts")).as("ms")
      )
      .withColumn("t_ms", last(when(touch, col("ms")), ignoreNulls = true).over(w))
      .withColumn("t_id", last(when(touch, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("t_ty", last(when(touch, col("event_type")), ignoreNulls = true).over(w))
    base
      .where(col("event_type") === "purchase")
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        col("ms").as("p_ms"),
        when(col("t_ms") >= col("ms") - 21600000L, col("t_id")).as("touch_id"),
        when(col("t_ms") >= col("ms") - 21600000L, col("t_ty")).as("touch_type"),
        when(col("t_ms") >= col("ms") - 21600000L, expr("CAST((ms - t_ms) div 60000 AS BIGINT)"))
          .as("mins_before"),
        (col("t_ms").isNotNull && col("t_ms") >= col("ms") - 21600000L).as("attributed")
      )
  }

  private val eventsAttributionSql =
    """WITH b AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |l AS (SELECT *,
      |    last_value(CASE WHEN event_type IN ('view','click') THEN ms END IGNORE NULLS)
      |      OVER w AS t_ms,
      |    last_value(CASE WHEN event_type IN ('view','click') THEN event_id END IGNORE NULLS)
      |      OVER w AS t_id,
      |    last_value(CASE WHEN event_type IN ('view','click') THEN event_type END IGNORE NULLS)
      |      OVER w AS t_ty
      |  FROM b
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT event_id AS purchase_id, user_id, ms AS p_ms,
      |  CASE WHEN t_ms >= ms - 21600000 THEN t_id END AS touch_id,
      |  CASE WHEN t_ms >= ms - 21600000 THEN t_ty END AS touch_type,
      |  CASE WHEN t_ms >= ms - 21600000 THEN (ms - t_ms) // 60000 END AS mins_before,
      |  t_ms IS NOT NULL AND t_ms >= ms - 21600000 AS attributed
      |FROM l WHERE event_type = 'purchase'""".stripMargin

  // --------------------------- bitmap index segments (B87)

  /** Bitmap-index construction: per vocabulary term, 64-document segments
    * of a membership bitmap (`bit_or` of `1 << doc_id mod 64`) plus the
    * per-segment popcount — the roaring-style posting representation
    * OLAP engines use for fast boolean set algebra over terms. The
    * segment width keeps every value a plain BIGINT, exact in both
    * engines (including the sign bit for slot 63).
    *
    * Scale shape: one (term, doc) dedup hash-agg feeding a map-side
    * -combined `bit_or` per (term, segment) — output is
    * vocab × corpus/64 sized, 64× smaller than the posting list it
    * encodes, and segment construction never shuffles more than the
    * dedup did.
    */
  private def textBitmapIndex(s: SparkSession, dir: String): DataFrame = {
    val toks = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    documents(s, dir)
      .select(col("doc_id"), explode(toks).as("term"))
      .where(length(col("term")) > 0)
      .distinct()
      .groupBy(col("term"), expr("CAST(doc_id div 64 AS BIGINT)").as("seg"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 64 AS INT)))").as("bitmap"))
      .select(
        col("term"),
        col("seg"),
        col("bitmap"),
        expr("CAST(bit_count(bitmap) AS BIGINT)").as("n_docs")
      )
  }

  private val textBitmapIndexSql =
    """WITH pairs AS (SELECT DISTINCT doc_id,
      |    unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
      |  FROM documents),
      |p2 AS (SELECT doc_id, term,
      |    CASE WHEN doc_id % 64 = 63 THEN -9223372036854775808
      |         ELSE (1::BIGINT) << CAST(doc_id % 64 AS INT) END AS bit
      |  FROM pairs WHERE length(term) > 0)
      |SELECT term, doc_id // 64 AS seg,
      |  bit_or(bit) AS bitmap,
      |  CAST(bit_count(bit_or(bit)) AS BIGINT) AS n_docs
      |FROM p2 GROUP BY 1, 2""".stripMargin

  // --------------------------- bitmap intersection co-df (B88)

  /** Boolean set algebra over the bitmap index: pairwise co-document
    * frequency of the top-10 df terms computed by ANDing their 64-bit
    * segments and summing popcounts — the bitmap trick that answers
    * "documents containing BOTH terms" without touching a posting list.
    * The ORACLE deliberately takes the OTHER route — a direct distinct
    * (term, doc) self-join — so parity proves the bitmap algebra against
    * independent set semantics, not a replay of itself.
    *
    * Scale shape: pair work is top-k² × corpus/64 POPCOUNTs, never a
    * document-level join; the segment equi-join carries k rows per
    * segment per side and the per-pair sum is map-side combined.
    */
  private def textBitmapCodf(s: SparkSession, dir: String): DataFrame = {
    val toks = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    val pairs = documents(s, dir)
      .select(col("doc_id"), explode(toks).as("term"))
      .where(length(col("term")) > 0)
      .distinct()
    val top = pairs
      .groupBy("term")
      .agg(count(lit(1)).as("df"))
      .withColumn("rn", row_number().over(Window.partitionBy(expr("df % 1")).orderBy(desc("df"), col("term"))))
      .where(col("rn") <= 10)
      .select("term")
    val seg = pairs
      .join(broadcast(top), Seq("term"))
      .groupBy(col("term"), expr("CAST(doc_id div 64 AS BIGINT)").as("seg"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 64 AS INT)))").as("bm"))
    seg.as("a")
      .join(seg.as("b"), col("a.seg") === col("b.seg") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("t1"), col("b.term").as("t2"))
      .agg(expr("CAST(sum(bit_count(a.bm & b.bm)) AS BIGINT)").as("co_df"))
      .where(col("co_df") > 0)
  }

  private val textBitmapCodfSql =
    """WITH pairs AS (SELECT DISTINCT doc_id,
      |    unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
      |  FROM documents),
      |p2 AS (SELECT * FROM pairs WHERE length(term) > 0),
      |top AS (SELECT term FROM (
      |    SELECT term, row_number() OVER (ORDER BY count(*) DESC, term) AS rn
      |    FROM p2 GROUP BY term) WHERE rn <= 10),
      |tp AS (SELECT doc_id, term FROM p2 WHERE term IN (SELECT term FROM top))
      |SELECT a.term AS t1, b.term AS t2, count(*) AS co_df
      |FROM tp a JOIN tp b ON a.doc_id = b.doc_id AND a.term < b.term
      |GROUP BY 1, 2 HAVING count(*) > 0""".stripMargin

  // --------------------------- SCD type-3 current + previous (B10)

  /** Slowly-changing-dimension TYPE 3: per key, the CURRENT value with
    * the immediately PREVIOUS value alongside (plus change count and
    * last-change timestamp) — the "show me what it was before" dimension
    * shape, completing the SCD family next to latest-wins (type 1,
    * cdc_latest_wins) and interval history (type 2, cdc_scd2_history).
    *
    * Scale shape: one rank window per key (bounded by a key's change
    * history) and a conditional-aggregate collapse to one row per key —
    * no joins, no second pass.
    */
  private def cdcScd3Current(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(desc("ms"), desc("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"), unix_millis(col("ts")).as("ms"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
      .groupBy("user_id")
      .agg(
        max(when(col("rn") === 1, col("value"))).as("cur_value"),
        max(when(col("rn") === 2, col("value"))).as("prev_value"),
        max(when(col("rn") === 1, col("ms"))).as("cur_ms"),
        count(lit(1)).as("n_kept")
      )
  }

  private val cdcScd3CurrentSql =
    """WITH r AS (SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id,
      |  max(CASE WHEN rn = 1 THEN value END) AS cur_value,
      |  max(CASE WHEN rn = 2 THEN value END) AS prev_value,
      |  max(CASE WHEN rn = 1 THEN ms END) AS cur_ms,
      |  count(*) AS n_kept
      |FROM r WHERE rn <= 2 GROUP BY 1""".stripMargin

  // --------------------------- sweep-line interval counting (B89)

  /** Concurrent-interval counting: how many orders are OPEN (ordered but
    * not yet fully shipped) at every point in time — the
    * work-in-progress / concurrency metric (active sessions, open
    * tickets, in-flight shipments) that naive per-day explosion makes
    * O(days × intervals). Output is the step function at its CHANGE
    * POINTS (each day where the count moves, with the new count).
    *
    * Scale shape: the SWEEP LINE — each interval contributes exactly two
    * delta events (+1 at start, −1 after end), deltas collapse by day in
    * a map-side-combined hash-agg, and one cumulative window over the
    * bounded day domain yields the counts. Linear in intervals, never
    * days × intervals.
    */
  private def qOpenOrdersSweep(s: SparkSession, dir: String): DataFrame = {
    val anchor   = lit("1995-01-01").cast("date")
    val shipped  = lineitem(s, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(max(col("l_shipdate").cast("date")).as("ship_end"))
    val iv = orders(s, dir)
      .join(shipped, Seq("o_orderkey"))
      .select(
        datediff(col("o_orderdate").cast("date"), anchor).cast("long").as("d0"),
        datediff(col("ship_end"), anchor).cast("long").as("d1")
      )
    val deltas = iv
      .select(col("d0").as("day_idx"), lit(1L).as("delta"))
      .unionByName(iv.select((col("d1") + 1).as("day_idx"), lit(-1L).as("delta")))
      .groupBy("day_idx")
      .agg(sum("delta").as("delta"))
      .where(col("delta") =!= 0)
    deltas
      .withColumn(
        "n_open",
        sum("delta").over(
          Window.partitionBy(expr("day_idx % 1")).orderBy("day_idx")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
      )
      .select(col("day_idx"), col("delta"), col("n_open"))
  }

  private val qOpenOrdersSweepSql =
    """WITH shipped AS (SELECT l_orderkey AS o_orderkey, max(CAST(l_shipdate AS DATE)) AS ship_end
      |  FROM lineitem GROUP BY 1),
      |iv AS (SELECT
      |    CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d0,
      |    CAST(datediff('day', DATE '1995-01-01', ship_end) AS BIGINT) AS d1
      |  FROM orders JOIN shipped USING (o_orderkey)),
      |deltas AS (SELECT day_idx, CAST(sum(delta) AS BIGINT) AS delta FROM (
      |    SELECT d0 AS day_idx, 1 AS delta FROM iv
      |    UNION ALL
      |    SELECT d1 + 1 AS day_idx, -1 AS delta FROM iv)
      |  GROUP BY 1 HAVING sum(delta) != 0)
      |SELECT day_idx, delta, CAST(sum(delta) OVER (ORDER BY day_idx) AS BIGINT) AS n_open
      |FROM deltas""".stripMargin

  // --------------------------- time-travel as-of read (B10 family)

  /** MVCC-style time travel: the full keyed state AS OF a fixed instant
    * (2024-01-15 00:00 UTC), reconstructed from the change log — the
    * read side of the SCD2 history (`cdc_scd2_history` builds the
    * intervals; this query answers "what did the table look like at
    * T?"). Keys whose first change is after T are correctly absent.
    *
    * Scale shape: a per-key rank window AFTER the `ms ≤ T` filter
    * pushes down to the scan — only pre-T history is read; one row per
    * key survives. At a real warehouse this is a partition-pruned read
    * of the snapshot lineage (B52), not a log replay; the semantics
    * gate is what this query pins.
    */
  private def cdcAsofSnapshot(s: SparkSession, dir: String): DataFrame = {
    val tMs = 1705276800000L // 2024-01-15T00:00:00Z
    val w   = Window.partitionBy("user_id").orderBy(desc("ms"), desc("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"), unix_millis(col("ts")).as("ms"))
      .where(col("ms") <= tMs)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("value").as("value_at"), col("ms").as("as_of_ms"))
  }

  private val cdcAsofSnapshotSql =
    """WITH r AS (SELECT user_id, event_id, value, epoch_ms(ts) AS ms,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC) AS rn
      |  FROM events WHERE epoch_ms(ts) <= 1705276800000)
      |SELECT user_id, value AS value_at, ms AS as_of_ms
      |FROM r WHERE rn = 1""".stripMargin

  // --------------------------- CV fold balance audit (B90)

  /** Cross-validation hygiene: documents md5-assigned to 5 folds (the
    * deterministic split, B16's contract) and each (fold, lang) cell
    * audited for balance — observed count vs the lang's expected
    * per-fold share, deviation in ppm — the skew check that catches a
    * fold accidentally starved of a class before anyone trains on it.
    *
    * Scale shape: assignment is scan-fused hashing; the audit is one
    * folds×langs-bounded hash-agg joined with a langs-sized total
    * (broadcast); deviation is integer arithmetic on those tiny tables.
    */
  private def qCvFolds(s: SparkSession, dir: String): DataFrame = {
    val fold = (graft.functions.Hashing.h32(col("doc_id").cast("string")) % 5).as("fold")
    val cell = documents(s, dir).groupBy(fold, col("lang")).agg(count(lit(1)).as("n"))
    val tot  = documents(s, dir).groupBy("lang").agg(count(lit(1)).as("lang_total"))
    cell
      .join(broadcast(tot), Seq("lang"))
      .select(
        col("fold"),
        col("lang"),
        col("n"),
        col("lang_total"),
        expr("CAST(abs(n * 5 * 1000000 div lang_total - 1000000) AS BIGINT)").as("dev_ppm")
      )
  }

  private val qCvFoldsSql =
    """WITH cell AS (SELECT
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 5 AS fold,
      |    lang, count(*) AS n
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT lang, count(*) AS lang_total FROM documents GROUP BY 1)
      |SELECT fold, lang, n, lang_total,
      |  CAST(abs(n * 5 * 1000000 // lang_total - 1000000) AS BIGINT) AS dev_ppm
      |FROM cell JOIN tot USING (lang)""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_gap_fill", Seq("B77"), eventsGapFill, eventsGapFillSql),
    QuerySpec("events_convert_latency", Seq("B78"), eventsConvertLatency, eventsConvertLatencySql),
    QuerySpec("q_fair_share", Seq("B79"), qFairShare, qFairShareSql),
    QuerySpec("q_record_linkage", Seq("B80"), qRecordLinkage, qRecordLinkageSql),
    QuerySpec("events_user_cohorts", Seq("B81"), eventsUserCohorts, eventsUserCohortsSql),
    QuerySpec("events_ab_test", Seq("B82"), eventsAbTest, eventsAbTestSql),
    QuerySpec("text_encoding_audit", Seq("B83"), textEncodingAudit, textEncodingAuditSql),
    QuerySpec("q_pareto_abc", Seq("B84"), qParetoAbc, qParetoAbcSql),
    QuerySpec("q_rollup_shares", Seq("B85"), qRollupShares, qRollupSharesSql),
    QuerySpec("events_attribution", Seq("B86"), eventsAttribution, eventsAttributionSql),
    QuerySpec("text_bitmap_index", Seq("B87"), textBitmapIndex, textBitmapIndexSql),
    QuerySpec("text_bitmap_codf", Seq("B88"), textBitmapCodf, textBitmapCodfSql),
    QuerySpec("cdc_scd3_current", Seq("B10"), cdcScd3Current, cdcScd3CurrentSql),
    QuerySpec("q_open_orders_sweep", Seq("B89"), qOpenOrdersSweep, qOpenOrdersSweepSql),
    QuerySpec("cdc_asof_snapshot", Seq("B10t"), cdcAsofSnapshot, cdcAsofSnapshotSql),
    QuerySpec("q_cv_folds", Seq("B90"), qCvFolds, qCvFoldsSql)
  )
}
