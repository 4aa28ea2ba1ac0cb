package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-7 additions, batch 14: consistent-hash ring assignment (B128) —
  * the elasticity proof behind shard maps and distributed caches.
  */
object QueriesExt20 {

  // --------------------------- consistent-hash ring (B128)

  /** Consistent hashing with virtual nodes: documents are placed on a
    * 32-bit md5 ring and assigned to the successor vnode of 8 nodes ×
    * 32 vnodes; the same assignment is recomputed with node `n7`
    * REMOVED, and the per-node report shows load before/after plus how
    * many documents MOVED — the ~1/n movement guarantee that makes
    * consistent hashing the shard-map/cache-ring primitive (naive
    * `mod n` would move (n−1)/n of all keys). Ring positions and key
    * hashes are md5-derived, so both engines build the identical ring.
    *
    * Scale shape: the ring is a 256-row broadcast; successor lookup is
    * a broadcast join + min-aggregate (candidates ≥ h, wrap to the ring
    * minimum via a 1-row fallback) — per-key work is ring-bounded and
    * the corpus never shuffles except the final per-node count. At
    * cache-cluster scale the ring stays KB-sized however the corpus
    * grows.
    */
  private def qConsistentHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vnodes = (0 until 8).flatMap(n => (0 until 32).map(v => (s"node$n", s"node$n:$v")))
    val ringAll = vnodes.toDF("node", "vkey")
      .select(col("node"), graft.functions.Hashing.h32(col("vkey")).as("pos"))

    def assign(ring: DataFrame, tag: String): DataFrame = {
      val docs = documents(s, dir)
        .select(col("doc_id"), graft.functions.Hashing.h32(col("doc_id").cast("string")).as("h"))
      val succ = docs
        .join(broadcast(ring), col("pos") >= col("h"), "left")
        .groupBy("doc_id", "h")
        .agg(min("pos").as("succ_pos"))
      val wrap = ring.agg(min("pos").as("wrap_pos"))
      succ
        .crossJoin(broadcast(wrap))
        .select(col("doc_id"), coalesce(col("succ_pos"), col("wrap_pos")).as("pos"))
        .join(broadcast(ring), "pos")
        .select(col("doc_id"), col("node").as(s"node_$tag"))
    }

    val before = assign(ringAll, "before")
    val after  = assign(ringAll.where(col("node") =!= "node7"), "after")
    before
      .join(after, "doc_id")
      .groupBy(col("node_before").as("node"))
      .agg(
        count(lit(1)).as("load_before"),
        sum(when(col("node_before") === col("node_after"), 1L).otherwise(0L)).as("n_stable"),
        sum(when(col("node_before") =!= col("node_after"), 1L).otherwise(0L)).as("n_moved")
      )
  }

  private val qConsistentHashSql = {
    val vnodeRows = (0 until 8)
      .flatMap(n => (0 until 32).map(v => s"('node$n', 'node$n:$v')"))
      .mkString(", ")
    s"""WITH vn(node, vkey) AS (VALUES $vnodeRows),
       |ring AS (SELECT node, CAST('0x' || substr(md5(vkey), 1, 8) AS BIGINT) AS pos FROM vn),
       |docs AS (SELECT doc_id, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
       |  FROM documents),
       |b1 AS (SELECT doc_id, h, min(pos) AS succ_pos FROM docs LEFT JOIN ring ON pos >= h GROUP BY 1, 2),
       |w1 AS (SELECT min(pos) AS wrap_pos FROM ring),
       |a1 AS (SELECT doc_id, r.node AS node_before
       |  FROM b1 CROSS JOIN w1 JOIN ring r ON r.pos = coalesce(b1.succ_pos, w1.wrap_pos)),
       |ring2 AS (SELECT * FROM ring WHERE node != 'node7'),
       |b2 AS (SELECT doc_id, h, min(pos) AS succ_pos FROM docs LEFT JOIN ring2 ON pos >= h GROUP BY 1, 2),
       |w2 AS (SELECT min(pos) AS wrap_pos FROM ring2),
       |a2 AS (SELECT doc_id, r.node AS node_after
       |  FROM b2 CROSS JOIN w2 JOIN ring2 r ON r.pos = coalesce(b2.succ_pos, w2.wrap_pos))
       |SELECT node_before AS node, count(*) AS load_before,
       |  CAST(sum(CASE WHEN node_before = node_after THEN 1 ELSE 0 END) AS BIGINT) AS n_stable,
       |  CAST(sum(CASE WHEN node_before != node_after THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
       |FROM a1 JOIN a2 USING (doc_id) GROUP BY 1""".stripMargin
  }

  // --------------------------- largest-remainder apportionment (B129)

  /** Exact integer apportionment: 100 sample slots split across sources
    * proportionally to document counts using the LARGEST-REMAINDER
    * (Hamilton) method — floor quotas first, then one extra slot to the
    * k largest remainders so the total is EXACTLY the budget (naive
    * rounding over- or under-shoots) — the deterministic allocator
    * behind proportional sampling quotas, partition splits, and seat
    * assignment. Remainders compare as exact integers
    * (`n·budget mod total`), ties to the smaller source name.
    *
    * Scale shape: counts are one sources-sized hash-agg; quota/remainder
    * arithmetic, the remainder-rank window, and the deficit top-up all
    * run on that tiny table with the 1-row total broadcast.
    */
  private def qApportionment(s: SparkSession, dir: String): DataFrame = {
    val budget = 100L
    val counts = documents(s, dir).groupBy("source").agg(count(lit(1)).as("n"))
    val tot    = counts.agg(sum("n").as("total"), count(lit(1)).as("n_src"))
    val base = counts
      .crossJoin(broadcast(tot))
      .select(
        col("source"),
        col("n"),
        expr(s"CAST(n * $budget div total AS BIGINT)").as("floor_q"),
        expr(s"CAST(n * $budget % total AS BIGINT)").as("rem")
      )
    val deficit = base
      .groupBy(lit(1).as("g"))
      .agg((lit(budget) - sum("floor_q")).as("deficit"))
      .drop("g")
    base
      .crossJoin(broadcast(deficit))
      .withColumn(
        "rem_rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(expr("rem % 1")).orderBy(desc("rem"), col("source"))
        ).cast("long")
      )
      .select(
        col("source"),
        col("n"),
        (col("floor_q") + when(col("rem_rank") <= col("deficit"), 1L).otherwise(0L)).as("slots")
      )
  }

  private val qApportionmentSql =
    """WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
      |base AS (SELECT source, n,
      |    CAST(n * 100 // total AS BIGINT) AS floor_q,
      |    CAST(n * 100 % total AS BIGINT) AS rem
      |  FROM counts CROSS JOIN tot),
      |d AS (SELECT 100 - CAST(sum(floor_q) AS BIGINT) AS deficit FROM base),
      |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rem_rank FROM base)
      |SELECT source, n,
      |  floor_q + CASE WHEN rem_rank <= deficit THEN 1 ELSE 0 END AS slots
      |FROM r CROSS JOIN d""".stripMargin

  // --------------------------- Cohen's kappa agreement (B130)

  /** Inter-rater reliability: Cohen's κ between two INDEPENDENT
    * en-vs-other language classifiers — B5's full stopword vote and a
    * crude single-token detector (contains "the") — in ppm:
    * κ = (pₒ − pₑ)/(1 − pₑ) with observed and expected agreement kept
    * as exact integer cross-products over the 2×2 confusion counts
    * (κ_ppm = (N·agree − Σ rowᵢ·colᵢ)·1e6 div (N² − Σ rowᵢ·colᵢ)).
    * Chance-corrected agreement is the right way to compare two
    * heuristics (raw agreement rewards the majority class); κ ≫ 0 here
    * certifies the two signals see the same language structure.
    *
    * Scale shape: both classifications are scan-fused codegen chains;
    * the 2×2 confusion matrix is one map-side hash-agg; κ is scalar
    * arithmetic on four counts via DECIMAL(38,0).
    */
  private def textKappaAgreement(s: SparkSession, dir: String): DataFrame = {
    val toks = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    def votes(ws: String) = size(expr(s"filter(t, x -> x IN ($ws))"))
    val vEn = votes("'the','and','of','is'")
    val vOther = greatest(
      votes("'der','und','die','ist'"), votes("'le','et','les','est'"),
      votes("'el','y','los','es'"), votes("'的','是','了','在'")
    )
    val m = documents(s, dir)
      .select(col("doc_id"), toks.as("t"))
      .select(
        (vEn >= vOther).as("a_zh"),
        array_contains(col("t"), "the").as("b_zh")
      )
      .groupBy("a_zh", "b_zh")
      .agg(count(lit(1)).as("c"))
    m.agg(
        sum("c").as("n"),
        sum(when(col("a_zh") === col("b_zh"), col("c")).otherwise(0L)).as("agree"),
        sum(when(col("a_zh"), col("c")).otherwise(0L)).as("a_pos"),
        sum(when(col("b_zh"), col("c")).otherwise(0L)).as("b_pos")
      )
      .select(
        col("n"),
        col("agree"),
        expr(
          """CAST((CAST(n AS DECIMAL(38,0)) * agree
            |       - (CAST(a_pos AS DECIMAL(38,0)) * b_pos + (CAST(n AS DECIMAL(38,0)) - a_pos) * (n - b_pos)))
            |  * 1000000
            |  div nullif(CAST(n AS DECIMAL(38,0)) * n
            |       - (CAST(a_pos AS DECIMAL(38,0)) * b_pos + (CAST(n AS DECIMAL(38,0)) - a_pos) * (n - b_pos)), 0)
            |  AS BIGINT)""".stripMargin
        ).as("kappa_ppm")
      )
  }

  private val textKappaAgreementSql =
    """WITH t AS (SELECT doc_id, text,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |cls AS (SELECT
      |    len(list_filter(toks, x -> list_contains(['the','and','of','is'], x)))
      |      >= greatest(
      |        len(list_filter(toks, x -> list_contains(['der','und','die','ist'], x))),
      |        len(list_filter(toks, x -> list_contains(['le','et','les','est'], x))),
      |        len(list_filter(toks, x -> list_contains(['el','y','los','es'], x))),
      |        len(list_filter(toks, x -> list_contains(['的','是','了','在'], x)))) AS a_zh,
      |    list_contains(toks, 'the') AS b_zh
      |  FROM t),
      |m AS (SELECT a_zh, b_zh, count(*) AS c FROM cls GROUP BY 1, 2),
      |agg AS (SELECT CAST(sum(c) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN a_zh = b_zh THEN c ELSE 0 END) AS BIGINT) AS agree,
      |    CAST(sum(CASE WHEN a_zh THEN c ELSE 0 END) AS BIGINT) AS a_pos,
      |    CAST(sum(CASE WHEN b_zh THEN c ELSE 0 END) AS BIGINT) AS b_pos
      |  FROM m)
      |SELECT n, agree,
      |  CAST((n * agree - (a_pos * b_pos + (n - a_pos) * (n - b_pos))) * 1000000
      |    // nullif(n * n - (a_pos * b_pos + (n - a_pos) * (n - b_pos)), 0) AS BIGINT) AS kappa_ppm
      |FROM agg""".stripMargin

  // --------------------------- sequence motif matching (B131)

  /** Row-pattern matching (MATCH_RECOGNIZE-lite): count, per user, the
    * occurrences of "a `view` followed by a `purchase` within the next
    * 3 events" — the sequence-motif query behind micro-conversion
    * funnels and abuse signatures, expressed with lead() probes instead
    * of a pattern automaton. Overlapping matches count once per
    * anchoring view (the standard AFTER MATCH SKIP TO NEXT ROW
    * semantics).
    *
    * Scale shape: three lead() probes on the per-user ordered window
    * (bounded per user) + one count hash-agg; no joins, no explosion —
    * the k-lookahead trick that keeps short-motif matching linear.
    */
  private def eventsMotifWindow(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    events(s, dir)
      .select(
        col("user_id"), col("event_id"), col("event_type"),
        operators.EventAnalytics.tsMillis(col("ts")).as("ms")
      )
      .withColumn("n1", lead(col("event_type"), 1).over(w))
      .withColumn("n2", lead(col("event_type"), 2).over(w))
      .withColumn("n3", lead(col("event_type"), 3).over(w))
      .where(
        col("event_type") === "view" &&
          (col("n1") === "purchase" || col("n2") === "purchase" || col("n3") === "purchase")
      )
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_motifs"))
  }

  private val eventsMotifWindowSql =
    """WITH b AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |l AS (SELECT *,
      |    lead(event_type, 1) OVER w AS n1,
      |    lead(event_type, 2) OVER w AS n2,
      |    lead(event_type, 3) OVER w AS n3
      |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
      |SELECT user_id, count(*) AS n_motifs
      |FROM l
      |WHERE event_type = 'view' AND (n1 = 'purchase' OR n2 = 'purchase' OR n3 = 'purchase')
      |GROUP BY 1""".stripMargin

  // --------------------------- Tukey-fence outliers (B132)

  /** Robust outlier detection, boxplot-style: per event type, exact
    * p25/p75 (B53's integer inverted-CDF over the bounded cent-value
    * histogram), the Tukey fences `p25 − 1.5·IQR` / `p75 + 1.5·IQR`
    * (computed in integer CENTS so the 1.5 multiplier stays exact), and
    * the count outside each fence — the distribution-free complement of
    * the z-score detector (B23) that a skewed value column needs.
    *
    * Scale shape: the histogram trick end to end — one (type, cents)
    * hash-agg, percentile window over the bounded histogram, 1-row-per-
    * type fences broadcast back, and the outlier counts come from a
    * SECOND pass over the HISTOGRAM (not the log): counts weighted by
    * the bucket counts.
    */
  private def eventsTukeyFences(s: SparkSession, dir: String): DataFrame = {
    val hist = events(s, dir)
      .groupBy(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("cents")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = hist
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("total", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type")))
    val fences = cum
      .groupBy("event_type")
      .agg(
        min(when(col("cum") * 4 >= col("total"), col("cents"))).as("p25_c"),
        min(when(col("cum") * 4 >= col("total") * 3, col("cents"))).as("p75_c")
      )
      .select(
        col("event_type"),
        col("p25_c"),
        col("p75_c"),
        // 1.5·IQR in cents: 3·IQR/2 with integer div — exact to the half-cent floor
        (col("p25_c") - expr("(p75_c - p25_c) * 3 div 2")).as("lo_fence_c"),
        (col("p75_c") + expr("(p75_c - p25_c) * 3 div 2")).as("hi_fence_c")
      )
    hist
      .join(broadcast(fences), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        max("p25_c").as("p25_c"),
        max("p75_c").as("p75_c"),
        sum(when(col("cents") < col("lo_fence_c"), col("cnt")).otherwise(0L)).as("n_below"),
        sum(when(col("cents") > col("hi_fence_c"), col("cnt")).otherwise(0L)).as("n_above")
      )
  }

  private val eventsTukeyFencesSql =
    """WITH hist AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |cum AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS total FROM hist),
      |f AS (SELECT event_type,
      |    min(CASE WHEN cum * 4 >= total THEN cents END) AS p25_c,
      |    min(CASE WHEN cum * 4 >= total * 3 THEN cents END) AS p75_c
      |  FROM cum GROUP BY 1),
      |f2 AS (SELECT *, p25_c - (p75_c - p25_c) * 3 // 2 AS lo_fence_c,
      |    p75_c + (p75_c - p25_c) * 3 // 2 AS hi_fence_c FROM f)
      |SELECT hist.event_type, max(p25_c) AS p25_c, max(p75_c) AS p75_c,
      |  CAST(sum(CASE WHEN cents < lo_fence_c THEN cnt ELSE 0 END) AS BIGINT) AS n_below,
      |  CAST(sum(CASE WHEN cents > hi_fence_c THEN cnt ELSE 0 END) AS BIGINT) AS n_above
      |FROM hist JOIN f2 ON hist.event_type = f2.event_type
      |GROUP BY 1""".stripMargin

  // --------------------------- SCD2 invariant audit (B133)

  /** Warehouse-integrity audit of the SCD2 history's OWN invariants:
    * per key, intervals must tile time exactly — every `valid_to` equals
    * the next `valid_from` (no gaps, no overlaps) and exactly one open
    * (null-`valid_to`) current row per key. Run against the history the
    * engine itself builds (`cdc_scd2_history`), so the audit doubles as
    * a self-check of B10's construction; both counts must be zero and
    * parity proves both engines agree they are.
    *
    * Scale shape: the same per-key lead() window that built the history
    * checks it; violations collapse to a per-key hash-agg and a 1-row
    * summary.
    */
  private def cdcScd2Audit(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val hist = events(s, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("valid_from", col("ms"))
      .withColumn("valid_to", lead(col("ms"), 1).over(w))
    hist
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .groupBy(lit(1).as("g"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("valid_to").isNotNull && col("valid_to") =!= col("next_from"), 1L).otherwise(0L))
          .as("n_tiling_violations"),
        sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_open_rows"),
        countDistinct(col("user_id")).as("n_keys")
      )
      .drop("g")
      .select(
        col("n_rows"),
        col("n_tiling_violations"),
        (col("n_open_rows") - col("n_keys")).as("open_row_excess")
      )
  }

  private val cdcScd2AuditSql =
    """WITH hist AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    epoch_ms(ts) AS valid_from,
      |    lead(epoch_ms(ts)) OVER w AS valid_to,
      |    lead(epoch_ms(ts)) OVER w AS next_from
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id))
      |SELECT count(*) AS n_rows,
      |  CAST(sum(CASE WHEN valid_to IS NOT NULL AND valid_to != next_from THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_tiling_violations,
      |  CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) - count(DISTINCT user_id) AS BIGINT)
      |    AS open_row_excess
      |FROM hist""".stripMargin

  // --------------------------- linear interpolation (B134)

  /** Time-series resampling: each user's metric value AT a fixed probe
    * instant (2024-01-01 06:00), linearly interpolated between the
    * surrounding events — the gap-filling read sensor/finance pipelines
    * need where as-of (B9) gives only the step function. The
    * interpolation `v0 + (v1−v0)·(t−t0) div (t1−t0)` runs in integer
    * MICRO-value × millisecond space, exact in both engines; users with
    * no event on one side fall back to the boundary value (clamped
    * extrapolation, flagged).
    *
    * Scale shape: the two boundary events per user come from ONE
    * conditional hash-agg (max-before / min-after as (ms,value) structs
    * — no window, no self-join); the formula is scan-side arithmetic on
    * one row per user.
    */
  private def eventsInterpolate(s: SparkSession, dir: String): DataFrame = {
    val probeMs = 1704088800000L // 2024-01-01T06:00:00Z — near the range start so both clamped and two-sided users occur
    val base = events(s, dir)
      .select(
        col("user_id"),
        col("event_id"),
        unix_millis(col("ts")).as("ms"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("v_micro")
      )
    base
      .groupBy("user_id")
      .agg(
        // (ms, event_id) prefix pins ties to a total order in both engines
        max(when(col("ms") <= probeMs, struct(col("ms"), col("event_id"), col("v_micro")))).as("lo"),
        min(when(col("ms") > probeMs, struct(col("ms"), col("event_id"), col("v_micro")))).as("hi")
      )
      .select(
        col("user_id"),
        col("lo.ms").as("t0"),
        col("hi.ms").as("t1"),
        when(col("lo").isNull, col("hi.v_micro"))
          .when(col("hi").isNull, col("lo.v_micro"))
          .otherwise(
            expr(s"lo.v_micro + (hi.v_micro - lo.v_micro) * ($probeMs - lo.ms) div (hi.ms - lo.ms)")
          ).as("v_interp_micro"),
        (col("lo").isNull || col("hi").isNull).as("clamped")
      )
  }

  private val eventsInterpolateSql =
    """WITH base AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    CAST(round(value * 1000000) AS BIGINT) AS v_micro
      |  FROM events),
      |lo AS (SELECT user_id, ms AS t0, v_micro AS v0 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC) AS rn
      |    FROM base WHERE ms <= 1704088800000) WHERE rn = 1),
      |hi AS (SELECT user_id, ms AS t1, v_micro AS v1 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC) AS rn
      |    FROM base WHERE ms > 1704088800000) WHERE rn = 1),
      |agg AS (SELECT coalesce(lo.user_id, hi.user_id) AS user_id, t0, v0, t1, v1
      |  FROM lo FULL OUTER JOIN hi ON lo.user_id = hi.user_id)
      |SELECT user_id, t0, t1,
      |  CASE WHEN t0 IS NULL THEN v1
      |       WHEN t1 IS NULL THEN v0
      |       ELSE v0 + (v1 - v0) * (1704088800000 - t0) // (t1 - t0) END AS v_interp_micro,
      |  t0 IS NULL OR t1 IS NULL AS clamped
      |FROM agg""".stripMargin

  // --------------------------- shipping SLA buckets (B135)

  /** Service-level reporting: per order priority, the share of orders
    * FULLY shipped within 30 / 60 / 90 days of order date (ppm) plus
    * the worst fulfillment time — the multi-threshold SLA table an ops
    * review reads, where "fully shipped" means the LAST line item's
    * ship date (max per order, not min — the customer's view).
    *
    * Scale shape: one per-order max-agg over lineitem, one broadcast-
    * size join back to orders' priority column, and a priorities-sized
    * conditional-sum rollup; thresholds are integer day diffs.
    */
  private def qShippingSla(s: SparkSession, dir: String): DataFrame = {
    val shipped = lineitem(s, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(max(col("l_shipdate").cast("date")).as("ship_end"))
    orders(s, dir)
      .join(shipped, Seq("o_orderkey"))
      .select(
        col("o_orderpriority"),
        datediff(col("ship_end"), col("o_orderdate").cast("date")).cast("long").as("d")
      )
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        expr("CAST(sum(CASE WHEN d <= 30 THEN 1 ELSE 0 END) * 1000000 div count(1) AS BIGINT)")
          .as("within_30d_ppm"),
        expr("CAST(sum(CASE WHEN d <= 60 THEN 1 ELSE 0 END) * 1000000 div count(1) AS BIGINT)")
          .as("within_60d_ppm"),
        expr("CAST(sum(CASE WHEN d <= 90 THEN 1 ELSE 0 END) * 1000000 div count(1) AS BIGINT)")
          .as("within_90d_ppm"),
        max("d").as("worst_days")
      )
  }

  private val qShippingSlaSql =
    """WITH shipped AS (SELECT l_orderkey AS o_orderkey, max(CAST(l_shipdate AS DATE)) AS ship_end
      |  FROM lineitem GROUP BY 1),
      |j AS (SELECT o_orderpriority,
      |    CAST(datediff('day', CAST(o_orderdate AS DATE), ship_end) AS BIGINT) AS d
      |  FROM orders JOIN shipped USING (o_orderkey))
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CASE WHEN d <= 30 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS within_30d_ppm,
      |  CAST(sum(CASE WHEN d <= 60 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS within_60d_ppm,
      |  CAST(sum(CASE WHEN d <= 90 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS within_90d_ppm,
      |  max(d) AS worst_days
      |FROM j GROUP BY 1""".stripMargin

  // --------------------------- error-budget burn (B136)

  /** SRE error-budget accounting against a 25 % error SLO: per day, the
    * error share of events, the day's budget burn (error share / SLO,
    * ppm — 1e6 means the day consumed exactly its daily budget), and
    * the CUMULATIVE burn ratio since the window opened — the
    * "will we exhaust the budget before the period ends" curve an
    * on-call review reads. Pure integer arithmetic: burn =
    * `errors·1e6 div (events·SLO)` with the SLO as the rational 1/4.
    *
    * Scale shape: one (day) conditional-sum hash-agg from the log; the
    * cumulative window runs over the days-sized series.
    */
  private def eventsErrorBudget(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long").as("day_idx")
      )
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors")
      )
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(expr("day_idx % 1")).orderBy("day_idx")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    daily
      .withColumn("cum_events", sum("n_events").over(w))
      .withColumn("cum_errors", sum("n_errors").over(w))
      .select(
        col("day_idx"),
        col("n_events"),
        col("n_errors"),
        expr("CAST(n_errors * 4000000 div n_events AS BIGINT)").as("day_burn_ppm"),
        expr("CAST(cum_errors * 4000000 div cum_events AS BIGINT)").as("cum_burn_ppm")
      )
  }

  private val eventsErrorBudgetSql =
    """WITH daily AS (SELECT
      |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_idx,
      |    count(*) AS n_events,
      |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
      |  FROM events GROUP BY 1),
      |c AS (SELECT *,
      |    sum(n_events) OVER (ORDER BY day_idx) AS cum_events,
      |    sum(n_errors) OVER (ORDER BY day_idx) AS cum_errors
      |  FROM daily)
      |SELECT day_idx, n_events, n_errors,
      |  CAST(n_errors * 4000000 // n_events AS BIGINT) AS day_burn_ppm,
      |  CAST(cum_errors * 4000000 // cum_events AS BIGINT) AS cum_burn_ppm
      |FROM c""".stripMargin

  // --------------------------- ABC × XYZ matrix (B137)

  /** Inventory-planning 2D segmentation: every part classified on TWO
    * axes — ABC by cumulative revenue share (B84's exact-integer
    * machinery) and XYZ by demand VARIABILITY (monthly-quantity CoV² in
    * ppm: X ≤ 0.25e6, Y ≤ 1e6, Z above — B115's exact-moment kernel) —
    * summarized as the 9-cell matrix with counts and revenue share.
    * AX parts get automated replenishment, CZ parts get manual review;
    * this matrix IS that policy table.
    *
    * Scale shape: monthly demand is one (part, month) hash-agg; both
    * classifications and the matrix run over part-dimension-sized
    * tables; the only corpus-wide work is the two fact-table hash-aggs.
    */
  private def qAbcXyzMatrix(s: SparkSession, dir: String): DataFrame = {
    val monthly = lineitem(s, dir)
      .groupBy(
        col("l_partkey"),
        expr("CAST(year(CAST(l_shipdate AS DATE)) * 12 + month(CAST(l_shipdate AS DATE)) AS BIGINT)")
          .as("m")
      )
      .agg(sum(col("l_quantity").cast("long")).as("q"))
    val xyz = monthly
      .groupBy("l_partkey")
      .agg(
        count(lit(1)).as("n_m"),
        sum("q").as("sq"),
        sum(col("q") * col("q")).as("sqq")
      )
      .select(
        col("l_partkey"),
        expr(
          """CASE
            |  WHEN CAST(n_m AS DECIMAL(38,0)) * sqq * 1000000
            |       div nullif(CAST(sq AS DECIMAL(38,0)) * sq, 0) - 1000000 <= 250000 THEN 'X'
            |  WHEN CAST(n_m AS DECIMAL(38,0)) * sqq * 1000000
            |       div nullif(CAST(sq AS DECIMAL(38,0)) * sq, 0) - 1000000 <= 1000000 THEN 'Y'
            |  ELSE 'Z' END""".stripMargin
        ).as("xyz")
      )
    val rev = lineitem(s, dir)
      .groupBy("l_partkey")
      .agg(expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)").as("rev_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(expr("rev_c % 1")).orderBy(desc("rev_c"), col("l_partkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val abc = rev
      .withColumn("cum", sum("rev_c").over(w))
      .withColumn("total", sum("rev_c").over(
        org.apache.spark.sql.expressions.Window.partitionBy(expr("rev_c % 1"))))
      .select(
        col("l_partkey"),
        col("rev_c"),
        when(expr("CAST(cum AS DECIMAL(38,0)) * 5 <= CAST(total AS DECIMAL(38,0)) * 4"), lit("A"))
          .when(expr("CAST(cum AS DECIMAL(38,0)) * 20 <= CAST(total AS DECIMAL(38,0)) * 19"), lit("B"))
          .otherwise(lit("C")).as("abc")
      )
    abc
      .join(xyz, "l_partkey")
      .groupBy("abc", "xyz")
      .agg(count(lit(1)).as("n_parts"), sum("rev_c").as("cell_rev_c"))
  }

  private val qAbcXyzMatrixSql =
    """WITH monthly AS (SELECT l_partkey,
      |    CAST(year(CAST(l_shipdate AS DATE)) * 12 + month(CAST(l_shipdate AS DATE)) AS BIGINT) AS m,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |xyz AS (SELECT l_partkey,
      |    CASE WHEN count(*) * sum(q * q) * 1000000 // nullif(sum(q) * sum(q), 0) - 1000000 <= 250000 THEN 'X'
      |         WHEN count(*) * sum(q * q) * 1000000 // nullif(sum(q) * sum(q), 0) - 1000000 <= 1000000 THEN 'Y'
      |         ELSE 'Z' END AS xyz
      |  FROM monthly GROUP BY 1),
      |rev AS (SELECT l_partkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS rev_c
      |  FROM lineitem GROUP BY 1),
      |c AS (SELECT l_partkey, rev_c,
      |    sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey) AS cum,
      |    sum(rev_c) OVER () AS total
      |  FROM rev),
      |abc AS (SELECT l_partkey, rev_c,
      |    CASE WHEN cum * 5 <= total * 4 THEN 'A'
      |         WHEN cum * 20 <= total * 19 THEN 'B'
      |         ELSE 'C' END AS abc
      |  FROM c)
      |SELECT abc, xyz, count(*) AS n_parts, CAST(sum(rev_c) AS BIGINT) AS cell_rev_c
      |FROM abc JOIN xyz USING (l_partkey)
      |GROUP BY 1, 2""".stripMargin

  // --------------------------- power-user concentration (B138)

  /** Whale-curve concentration: the share of all events generated by
    * the top-15 most active users (ppm) plus their individual loads —
    * the "how dependent are we on a few accounts" number next to B118's
    * per-hour noisy neighbors and B123's Gini.
    *
    * Scale shape: per-user counts are one map-side hash-agg; the top-15
    * is a bounded-heap TopKBy (15 rows/partition cross the shuffle);
    * the share divides by the 1-row total broadcast.
    */
  private def eventsPowerUsers(s: SparkSession, dir: String): DataFrame = {
    val perUser = events(s, dir).groupBy("user_id").agg(count(lit(1)).as("n"))
    val tot     = perUser.agg(sum("n").as("total"))
    perUser
      .agg(graft.functions.TopKBy.topKByLong(col("n").cast("double"), col("user_id"), 15).as("top"))
      .select(posexplode(col("top")))
      .select(
        (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("user_id"),
        col("col.score").cast("long").as("n_events")
      )
      .crossJoin(broadcast(tot))
      .select(
        col("rank"),
        col("user_id"),
        col("n_events"),
        expr("CAST(n_events * 1000000 div total AS BIGINT)").as("share_ppm")
      )
  }

  private val eventsPowerUsersSql =
    """WITH pu AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM pu),
      |r AS (SELECT user_id, n,
      |    CAST(row_number() OVER (ORDER BY n DESC, user_id) AS BIGINT) AS rank
      |  FROM pu)
      |SELECT rank, user_id, n AS n_events,
      |  CAST(n * 1000000 // total AS BIGINT) AS share_ppm
      |FROM r CROSS JOIN tot WHERE rank <= 15""".stripMargin

  // --------------------------- dormancy reactivation (B139)

  /** Resurrection metric: per day, how many users RETURNED after ≥ 2
    * days of inactivity (sized to the fixture's per-user event density) — the reactivation count that completes the
    * growth-accounting family (B81's new/returning split plus this
    * churn-recovery term). A reactivation is an event whose same-user
    * predecessor is more than the dormancy threshold older.
    *
    * Scale shape: one per-user lag window (bounded per user) flags
    * reactivation events at the scan; the rollup is days-sized.
    */
  private def eventsReactivation(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    events(s, dir)
      .select(
        col("user_id"), col("event_id"),
        operators.EventAnalytics.tsMillis(col("ts")).as("ms"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long").as("day_idx")
      )
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .where(col("prev_ms").isNotNull && col("ms") - col("prev_ms") > 2L * 86400000L)
      .groupBy("day_idx")
      .agg(
        count(lit(1)).as("n_reactivations"),
        countDistinct(col("user_id")).as("n_users")
      )
  }

  private val eventsReactivationSql =
    """WITH b AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_idx
      |  FROM events),
      |l AS (SELECT *, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM b)
      |SELECT day_idx, count(*) AS n_reactivations, count(DISTINCT user_id) AS n_users
      |FROM l WHERE prev_ms IS NOT NULL AND ms - prev_ms > 2 * 86400000
      |GROUP BY 1""".stripMargin

  // --------------------------- revenue waterfall (B140)

  /** Financial reconciliation waterfall: gross extended price → minus
    * discounts → net → plus tax → charged, each step as an exact
    * DECIMAL total and a ppm share of gross — the one-row bridge a
    * finance close reads to see where money went between list price and
    * invoice (q1 computes the same sums; this query pins the STEP
    * DELTAS and their shares). Every component is an exact
    * integer cent·percent-unit sum with ONE floor at the end (B22's
    * money rule, integer form); shares are DECIMAL(38,0) divisions.
    *
    * Scale shape: one map-side-combined 1-row aggregate over the fact
    * table; all derived arithmetic on that row.
    */
  private def qRevenueWaterfall(s: SparkSession, dir: String): DataFrame = {
    // pure integer cent·percent units per row — no decimal-precision
    // clipping anywhere (Spark trims scale on wide decimal products; a
    // naive sum-then-shift drifted by one cent against the oracle)
    lineitem(s, dir)
      .select(
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("ep_c"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("d_p"),
        expr("CAST(round(l_tax * 100) AS BIGINT)").as("t_p")
      )
      .agg(
        expr("CAST(sum(CAST(ep_c AS DECIMAL(38,0))) AS BIGINT)").as("gross_c"),
        expr("CAST(sum(CAST(ep_c * d_p AS DECIMAL(38,0))) div 100 AS BIGINT)").as("discount_c"),
        expr("CAST(sum(CAST(ep_c * (100 - d_p) * t_p AS DECIMAL(38,0))) div 10000 AS BIGINT)").as("tax_c")
      )
      .select(
        col("gross_c"),
        col("discount_c"),
        (col("gross_c") - col("discount_c")).as("net_c"),
        col("tax_c"),
        (col("gross_c") - col("discount_c") + col("tax_c")).as("charged_c"),
        expr("CAST(CAST(discount_c AS DECIMAL(38,0)) * 1000000 div gross_c AS BIGINT)")
          .as("discount_share_ppm"),
        expr("CAST(CAST(tax_c AS DECIMAL(38,0)) * 1000000 div gross_c AS BIGINT)")
          .as("tax_share_ppm")
      )
  }

  private val qRevenueWaterfallSql =
    """WITH r AS (SELECT
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS ep_c,
      |    CAST(round(l_discount * 100) AS BIGINT) AS d_p,
      |    CAST(round(l_tax * 100) AS BIGINT) AS t_p
      |  FROM lineitem),
      |a AS (SELECT
      |    CAST(sum(ep_c) AS BIGINT) AS gross_c,
      |    CAST(sum(ep_c * d_p) // 100 AS BIGINT) AS discount_c,
      |    CAST(sum(ep_c * (100 - d_p) * t_p) // 10000 AS BIGINT) AS tax_c
      |  FROM r)
      |SELECT gross_c, discount_c,
      |  gross_c - discount_c AS net_c,
      |  tax_c,
      |  gross_c - discount_c + tax_c AS charged_c,
      |  CAST(discount_c * 1000000 // gross_c AS BIGINT) AS discount_share_ppm,
      |  CAST(tax_c * 1000000 // gross_c AS BIGINT) AS tax_share_ppm
      |FROM a""".stripMargin

  // --------------------------- dead-stock value at risk (B141)

  /** Merchandising slow-mover report: per brand, the parts with NO
    * shipment since 2001-01-01 and the retail value they tie up (exact
    * cents) —
    * the value-at-risk rollup of B107's childless-parents count, the
    * list a buyer clears before the next assortment review.
    *
    * Scale shape: one anti-join of the part dimension against the
    * distinct fact keys (fact side deduped map-side first), then a
    * brands-sized rollup — the fact table contributes only its date-pruned key
    * projection (the recency filter pushes to the scan).
    */
  private def qDeadStock(s: SparkSession, dir: String): DataFrame = {
    val sold = lineitem(s, dir)
      .where(col("l_shipdate").cast("date") >= lit("2001-01-01").cast("date"))
      .select(col("l_partkey"))
      .distinct()
    part(s, dir)
      .join(sold, col("p_partkey") === col("l_partkey"), "left_anti")
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_unsold"),
        expr("CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) * 100 AS BIGINT)").as("retail_value_c")
      )
  }

  private val qDeadStockSql =
    """SELECT p_brand, count(*) AS n_unsold,
      |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS retail_value_c
      |FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
      |  WHERE l.l_partkey = p.p_partkey AND CAST(l.l_shipdate AS DATE) >= DATE '2001-01-01')
      |GROUP BY 1""".stripMargin

  // --------------------------- activity streaks (B142)

  /** Engagement streaks: each user's LONGEST run of consecutive active
    * days and their current-streak length at the end of the window —
    * the habit metric retention teams optimize, via the gaps-and-islands
    * identity (day − dense row number is constant within a consecutive
    * run).
    *
    * Scale shape: distinct (user, day) dedup hash-agg; the island id
    * comes from one per-user row_number window (bounded by a user's
    * active-day count ≤ window days); two more hash-aggs collapse to
    * one row per user.
    */
  private def eventsStreaks(s: SparkSession, dir: String): DataFrame = {
    val days = events(s, dir)
      .select(
        col("user_id"),
        datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long").as("day_idx")
      )
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day_idx")
    val islands = days
      .withColumn("grp", col("day_idx") - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), max("day_idx").as("streak_end"))
    islands
      .groupBy("user_id")
      .agg(
        max("len").as("longest_streak"),
        max(when(col("streak_end") === 29L, col("len")).otherwise(0L)).as("current_streak")
      )
  }

  private val eventsStreaksSql =
    """WITH days AS (SELECT DISTINCT user_id,
      |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_idx
      |  FROM events),
      |i AS (SELECT user_id, day_idx,
      |    day_idx - row_number() OVER (PARTITION BY user_id ORDER BY day_idx) AS grp
      |  FROM days),
      |isl AS (SELECT user_id, grp, count(*) AS len, max(day_idx) AS streak_end
      |  FROM i GROUP BY 1, 2)
      |SELECT user_id, max(len) AS longest_streak,
      |  CAST(max(CASE WHEN streak_end = 29 THEN len ELSE 0 END) AS BIGINT) AS current_streak
      |FROM isl GROUP BY 1""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_consistent_hash", Seq("B128"), qConsistentHash, qConsistentHashSql),
    QuerySpec("q_apportionment", Seq("B129"), qApportionment, qApportionmentSql),
    QuerySpec("text_kappa_agreement", Seq("B130"), textKappaAgreement, textKappaAgreementSql),
    QuerySpec("events_motif_window", Seq("B131"), eventsMotifWindow, eventsMotifWindowSql),
    QuerySpec("events_tukey_fences", Seq("B132"), eventsTukeyFences, eventsTukeyFencesSql),
    QuerySpec("cdc_scd2_audit", Seq("B133"), cdcScd2Audit, cdcScd2AuditSql),
    QuerySpec("events_interpolate", Seq("B134"), eventsInterpolate, eventsInterpolateSql),
    QuerySpec("q_shipping_sla", Seq("B135"), qShippingSla, qShippingSlaSql),
    QuerySpec("events_error_budget", Seq("B136"), eventsErrorBudget, eventsErrorBudgetSql),
    QuerySpec("q_abc_xyz_matrix", Seq("B137"), qAbcXyzMatrix, qAbcXyzMatrixSql),
    QuerySpec("events_power_users", Seq("B138"), eventsPowerUsers, eventsPowerUsersSql),
    QuerySpec("events_reactivation", Seq("B139"), eventsReactivation, eventsReactivationSql),
    QuerySpec("q_revenue_waterfall", Seq("B140"), qRevenueWaterfall, qRevenueWaterfallSql),
    QuerySpec("q_dead_stock", Seq("B141"), qDeadStock, qDeadStockSql),
    QuerySpec("events_streaks", Seq("B142"), eventsStreaks, eventsStreaksSql)
  )
}
