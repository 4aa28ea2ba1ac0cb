package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 34: the KMV (k-minimum-values) distinct
  * sketch — the mergeable cardinality estimator whose entire state is k
  * hashes, certified here against the exact count per group.
  */
object QueriesExt40 {

  // --------------------------- KMV distinct sketch (B203)

  /** Per-event-type distinct-user estimate from a KMV sketch (k = 64
    * minimum md5 values) CERTIFIED against the exact count: the sketch
    * keeps only the k smallest 13-hex-digit (52-bit) hash prefixes —
    * 52 bits so the heap's double scores stay integer-exact — and
    * estimates N ≈ (k−1)·2⁵² / v_k. Groups with < k distinct hashes
    * report exactly. The oracle replays md5 ranking and the integer
    * estimate formula verbatim, so the certification is cross-engine.
    * This is the bounded-state answer where exact distinct must shuffle
    * every key: sketch state is k longs per group, mergeable across
    * partitions/streams.
    *
    * Scale shape: distinct (type, hash-prefix) hash-agg, then the
    * bounded-heap TopKBy aggregate (k entries per group, map-side
    * combined) — state never grows with user count.
    */
  private def eventsKmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val hashed = events(s, dir)
      .select(col("event_type"), col("user_id"))
      .distinct()
      .select(
        col("event_type"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 13), 16, 10) AS BIGINT)").as("v")
      )
      .distinct() // KMV operates on the distinct hash set (collisions collapse)
    hashed
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_hashes"),
        functions.TopKBy.topKByLong(-col("v").cast("double"), col("v"), k).as("top")
      )
      .select(
        col("event_type"),
        col("n_hashes").as("exact_distinct"),
        when(col("n_hashes") < k, col("n_hashes"))
          .otherwise(expr(s"CAST(($k - 1) * CAST(4503599627370496 AS BIGINT) div element_at(top, $k).id AS BIGINT)"))
          .as("kmv_estimate")
      )
      .select(
        col("event_type"),
        col("exact_distinct"),
        col("kmv_estimate"),
        expr("CAST(abs(kmv_estimate - exact_distinct) * 1000000 div exact_distinct AS BIGINT)")
          .as("err_ppm")
      )
  }

  private val eventsKmvDistinctSql =
    """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
      |hv AS (SELECT DISTINCT event_type,
      |         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13)) AS BIGINT) AS v
      |       FROM du),
      |rk AS (SELECT event_type, v,
      |         row_number() OVER (PARTITION BY event_type ORDER BY v ASC) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n_hashes
      |       FROM hv),
      |est AS (
      |  SELECT event_type, max(n_hashes) AS exact_distinct,
      |    CASE WHEN max(n_hashes) < 64
      |      THEN max(n_hashes)
      |      ELSE CAST(63 * CAST(4503599627370496 AS BIGINT) // max(CASE WHEN rn = 64 THEN v END) AS BIGINT)
      |    END AS kmv_estimate
      |  FROM rk GROUP BY 1)
      |SELECT event_type, exact_distinct, kmv_estimate,
      |  CAST(abs(kmv_estimate - exact_distinct) * 1000000 // exact_distinct AS BIGINT) AS err_ppm
      |FROM est""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_kmv_distinct", Seq("B203"), eventsKmvDistinct, eventsKmvDistinctSql)
  )
}
