package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 36: KMV sketch ALGEBRA — the set
  * operations (union merge, intersection via inclusion-exclusion) that
  * make a k-minimum-values sketch more than a cardinality counter, and
  * the partial-aggregation merge proof that is the whole reason
  * sketches work at 100 TB.
  */
object QueriesExt43 {

  private val K        = 64
  private val TwoPow52 = 4503599627370496L

  // --------------------------- KMV pairwise overlap (B210)

  /** Distinct-user overlap between every pair of event types, estimated
    * from KMV sketches and CERTIFIED against exact counts: per type the
    * k = 64 smallest 52-bit md5 prefixes; the pair's union sketch is the
    * k smallest of the two sketches' union (the k-min of a set union is
    * reachable from the per-set k-mins — the merge is lossless for the
    * estimator), giving |A∪B|; |A∩B| then falls out of
    * inclusion-exclusion on the three integer estimates, clamped at 0.
    * Everything — exact sides included — operates on the 52-bit hash
    * domain (B203's convention: hash collisions collapse both sides
    * identically), so the certification is deterministic cross-engine.
    * This is how segment-overlap questions get answered at corpus scale
    * without an exact distinct over every pair: per-type sketch state is
    * k longs, pair algebra touches ≤ 2k values per pair.
    *
    * Scale shape: distinct (type, hash) hash-agg → TopKBy bounded heap
    * per type (map-side combined, k entries/group) → a ≤ types²-row
    * broadcast self-join doing pure array math; the one corpus-sized
    * extra is the exact-intersection certification join, which the
    * production path would drop.
    */
  private def eventsKmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val hv = events(s, dir)
      .select(
        col("event_type"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 13), 16, 10) AS BIGINT)").as("v")
      )
      .distinct()
    val perType = hv
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        functions.TopKBy.topKByLong(-col("v").cast("double"), col("v"), K).as("top")
      )
      .select(col("event_type"), col("n"), expr("transform(top, x -> x.id)").as("mins"))
    def est(nCol: String, minsCol: String) =
      when(col(nCol) < K, col(nCol))
        .otherwise(expr(s"CAST(($K - 1) * CAST($TwoPow52 AS BIGINT) div element_at($minsCol, $K) AS BIGINT)"))
    val a = perType.select(
      col("event_type").as("type_a"), col("n").as("na"), col("mins").as("mins_a")
    )
    val b = perType.select(
      col("event_type").as("type_b"), col("n").as("nb"), col("mins").as("mins_b")
    )
    val exactInter = hv.as("x")
      .join(hv.as("y"), col("x.v") === col("y.v") && col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("exact_inter"))
    a.join(b, col("type_a") < col("type_b"))
      // union-pool size < k only when BOTH sketches are complete hash
      // sets (n < k each), in which case the pool IS the exact union;
      // otherwise the pool's k-th smallest drives the estimator
      .withColumn("u", expr("array_sort(array_union(mins_a, mins_b))"))
      .withColumn(
        "kmv_union",
        when(size(col("u")) < K, size(col("u")).cast("long"))
          .otherwise(expr(s"CAST(($K - 1) * CAST($TwoPow52 AS BIGINT) div element_at(u, $K) AS BIGINT)"))
      )
      .withColumn("est_a", est("na", "mins_a"))
      .withColumn("est_b", est("nb", "mins_b"))
      .withColumn("kmv_inter", greatest(lit(0L), col("est_a") + col("est_b") - col("kmv_union")))
      .join(exactInter, Seq("type_a", "type_b"), "left")
      .na.fill(0L, Seq("exact_inter"))
      .select(
        col("type_a"), col("type_b"),
        (col("na") + col("nb") - col("exact_inter")).as("exact_union"),
        col("kmv_union"),
        col("exact_inter"),
        col("kmv_inter"),
        expr("CAST(abs(kmv_union - (na + nb - exact_inter)) * 1000000 div (na + nb - exact_inter) AS BIGINT)")
          .as("err_union_ppm")
      )
  }

  private val eventsKmvOverlapSql =
    s"""WITH hv AS (SELECT DISTINCT event_type,
      |         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS v
      |       FROM events),
      |rk AS (SELECT event_type, v,
      |         row_number() OVER (PARTITION BY event_type ORDER BY v ASC) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |       FROM hv),
      |mins AS (SELECT event_type, n, v, rn FROM rk WHERE rn <= $K),
      |types AS (SELECT event_type, max(n) AS n,
      |            CASE WHEN max(n) < $K THEN max(n)
      |                 ELSE CAST(($K - 1) * CAST($TwoPow52 AS BIGINT) // max(CASE WHEN rn = $K THEN v END) AS BIGINT)
      |            END AS est
      |          FROM mins GROUP BY 1),
      |upool AS (SELECT p.type_a, p.type_b, m.v
      |          FROM (SELECT a.event_type AS type_a, b.event_type AS type_b
      |                FROM types a JOIN types b ON a.event_type < b.event_type) p
      |          JOIN mins m ON m.event_type IN (p.type_a, p.type_b)
      |          GROUP BY 1, 2, 3),
      |uni AS (SELECT type_a, type_b, v,
      |          row_number() OVER (PARTITION BY type_a, type_b ORDER BY v ASC) AS urn,
      |          count(*) OVER (PARTITION BY type_a, type_b) AS nu_all
      |        FROM upool),
      |usk AS (SELECT type_a, type_b, max(nu_all) AS nu_all,
      |          max(CASE WHEN urn = $K THEN v END) AS vk
      |        FROM uni GROUP BY 1, 2),
      |ei AS (SELECT x.event_type AS type_a, y.event_type AS type_b, count(*) AS exact_inter
      |       FROM hv x JOIN hv y ON x.v = y.v AND x.event_type < y.event_type
      |       GROUP BY 1, 2),
      |base AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    a.n AS na, b.n AS nb, a.est AS est_a, b.est AS est_b,
      |    CASE WHEN u.nu_all < $K THEN u.nu_all
      |         ELSE CAST(($K - 1) * CAST($TwoPow52 AS BIGINT) // u.vk AS BIGINT)
      |    END AS kmv_union,
      |    coalesce(e.exact_inter, 0) AS exact_inter
      |  FROM types a JOIN types b ON a.event_type < b.event_type
      |  JOIN usk u ON u.type_a = a.event_type AND u.type_b = b.event_type
      |  LEFT JOIN ei e ON e.type_a = a.event_type AND e.type_b = b.event_type)
      |SELECT type_a, type_b,
      |  na + nb - exact_inter AS exact_union,
      |  kmv_union,
      |  exact_inter,
      |  greatest(0, est_a + est_b - kmv_union) AS kmv_inter,
      |  CAST(abs(kmv_union - (na + nb - exact_inter)) * 1000000 // (na + nb - exact_inter) AS BIGINT) AS err_union_ppm
      |FROM base""".stripMargin

  // --------------------------- KMV daily-merge proof (B211)

  /** The partial-aggregation mergeability proof, AS DATA: per event
    * type, the KMV estimate from merging per-day sketches (k smallest of
    * the union of each day's k smallest) equals the estimate of one
    * global sketch EXACTLY — the global k-min set is a subset of the
    * union of per-day k-min sets, so the merge is lossless, not
    * approximately so. This identity is what lets 100 TB run the sketch
    * as map-side partials merged at any tree depth (per file → per day →
    * per month) with bit-identical results; the query certifies it per
    * type with the day count beside. The oracle replays BOTH paths
    * independently.
    *
    * Scale shape: one (type, day, hash) distinct → per-day TopKBy heaps
    * (map-side combined) → per-type merge of ≤ days·k values through a
    * second bounded heap; the global path is the B203 shape. Nothing
    * scales with user count past the distinct.
    */
  private def eventsKmvMergeDaily(s: SparkSession, dir: String): DataFrame = {
    val hv = events(s, dir)
      .select(
        col("event_type"),
        to_date(col("ts")).as("day"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 13), 16, 10) AS BIGINT)").as("v")
      )
      .distinct()
    // per-day sketches, then per-type merge through a second bounded heap
    val daily = hv
      .groupBy(col("event_type"), col("day"))
      .agg(functions.TopKBy.topKByLong(-col("v").cast("double"), col("v"), K).as("top"))
      .select(col("event_type"), col("day"), explode(expr("transform(top, x -> x.id)")).as("v"))
    val nDays = daily
      .groupBy(col("event_type"))
      .agg(countDistinct(col("day")).as("n_days"))
    // min-SET union: the same hash surviving several days' sketches must
    // count once — dedupe before the merge heap (the B203 discipline)
    val merged = daily
      .select(col("event_type"), col("v")).distinct()
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_merged"),
        functions.TopKBy.topKByLong(-col("v").cast("double"), col("v"), K).as("top")
      )
      .select(
        col("event_type"),
        when(col("n_merged") < K, col("n_merged"))
          .otherwise(expr(s"CAST(($K - 1) * CAST($TwoPow52 AS BIGINT) div element_at(transform(top, x -> x.id), $K) AS BIGINT)"))
          .as("est_merged")
      )
      .join(nDays, Seq("event_type"))
    // global sketch (the B203 shape) — distinct hashes per type
    val global = hv
      .select(col("event_type"), col("v")).distinct()
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        functions.TopKBy.topKByLong(-col("v").cast("double"), col("v"), K).as("top")
      )
      .select(
        col("event_type"),
        when(col("n") < K, col("n"))
          .otherwise(expr(s"CAST(($K - 1) * CAST($TwoPow52 AS BIGINT) div element_at(transform(top, x -> x.id), $K) AS BIGINT)"))
          .as("est_global")
      )
    merged
      .join(global, Seq("event_type"))
      .select(
        col("event_type"), col("n_days"), col("est_global"), col("est_merged"),
        when(col("est_global") === col("est_merged"), lit(1L)).otherwise(lit(0L)).as("merge_lossless")
      )
  }

  private val eventsKmvMergeDailySql =
    s"""WITH hv AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day,
      |         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS v
      |       FROM events),
      |drk AS (SELECT event_type, day, v,
      |          row_number() OVER (PARTITION BY event_type, day ORDER BY v ASC) AS rn
      |        FROM hv),
      |dmins AS (SELECT DISTINCT event_type, day, v FROM drk WHERE rn <= $K),
      |mpool AS (SELECT DISTINCT event_type, v FROM dmins),
      |mrk AS (SELECT event_type, v,
      |          row_number() OVER (PARTITION BY event_type ORDER BY v ASC) AS rn,
      |          count(*) OVER (PARTITION BY event_type) AS n_merged
      |        FROM mpool),
      |mdays AS (SELECT event_type, count(DISTINCT day) AS n_days FROM dmins GROUP BY 1),
      |mest AS (SELECT event_type, max(n_merged) AS n_merged,
      |           CASE WHEN max(n_merged) < $K THEN max(n_merged)
      |                ELSE CAST(($K - 1) * CAST($TwoPow52 AS BIGINT) // max(CASE WHEN rn = $K THEN v END) AS BIGINT)
      |           END AS est_merged
      |         FROM mrk GROUP BY 1),
      |gpool AS (SELECT DISTINCT event_type, v FROM hv),
      |grk AS (SELECT event_type, v,
      |          row_number() OVER (PARTITION BY event_type ORDER BY v ASC) AS rn,
      |          count(*) OVER (PARTITION BY event_type) AS n
      |        FROM gpool),
      |gest AS (SELECT event_type, max(n) AS n,
      |           CASE WHEN max(n) < $K THEN max(n)
      |                ELSE CAST(($K - 1) * CAST($TwoPow52 AS BIGINT) // max(CASE WHEN rn = $K THEN v END) AS BIGINT)
      |           END AS est_global
      |         FROM grk GROUP BY 1)
      |SELECT g.event_type, CAST(d.n_days AS BIGINT) AS n_days,
      |  g.est_global, m.est_merged,
      |  CAST(g.est_global = m.est_merged AS BIGINT) AS merge_lossless
      |FROM gest g JOIN mest m ON m.event_type = g.event_type
      |JOIN mdays d ON d.event_type = g.event_type""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_kmv_overlap", Seq("B210"), eventsKmvOverlap, eventsKmvOverlapSql),
    QuerySpec("events_kmv_merge_daily", Seq("B211"), eventsKmvMergeDaily, eventsKmvMergeDailySql)
  )
}
