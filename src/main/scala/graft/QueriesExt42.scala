package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 35: the Count-Min Sketch frequency
  * estimator — the mergeable heavy-hitter sketch whose entire state is a
  * d×w counter grid, certified here against exact counts.
  */
object QueriesExt42 {

  // --------------------------- CMS heavy hitters, certified (B208)

  /** Top-20 users by event count with their Count-Min Sketch estimate
    * CERTIFIED against the exact count: a d=4 × w=512 counter grid keyed
    * by 52-bit md5 prefixes of "row:user_id", point estimate = min over
    * the 4 rows' counters. CMS never undercounts (each counter is the
    * exact count plus non-negative collision mass), so `over_ppm` ≥ 0 by
    * construction and the certification reports the collision overshoot
    * per heavy hitter. The oracle replays the identical md5 bucket math
    * and min-of-counters in SQL, so the certification is cross-engine.
    * This is the bounded-state answer where exact per-id counting must
    * keep every id: the sketch is 2 048 longs TOTAL, commutative under
    * addition, hence mergeable across partitions/days/streams with zero
    * order sensitivity.
    *
    * Scale shape: one per-user map-side count (the certification's exact
    * side), a ×4 explode into a ≤2 048-key hash-agg (the sketch build —
    * nothing downstream grows with user count), a TakeOrderedAndProject
    * global top-20, and broadcast joins of the 80-row top list against
    * the 2 048-row counter grid.
    */
  private def eventsCmsTopk(s: SparkSession, dir: String): DataFrame = {
    val d = 4; val w = 512; val topN = 20
    def bucketExpr = expr(
      s"CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', CAST(user_id AS STRING))), 1, 13), 16, 10) AS BIGINT) % $w"
    )
    val uc = events(s, dir).groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    // sketch build: weighted increments from the per-user rollup land on
    // the same counters as per-event increments (addition commutes)
    val counters = uc
      .select(col("user_id"), col("cnt"), explode(expr(s"sequence(0, ${d - 1})")).as("r"))
      .withColumn("b", bucketExpr)
      .groupBy(col("r"), col("b"))
      .agg(sum(col("cnt")).as("c"))
    val top = uc.orderBy(col("cnt").desc, col("user_id").asc).limit(topN)
    top
      .select(col("user_id"), col("cnt"), explode(expr(s"sequence(0, ${d - 1})")).as("r"))
      .withColumn("b", bucketExpr)
      .join(broadcast(counters), Seq("r", "b"))
      .groupBy(col("user_id"), col("cnt"))
      .agg(min(col("c")).as("cms"))
      .select(
        col("user_id"),
        col("cnt").as("exact_cnt"),
        col("cms").cast("long").as("cms_estimate"),
        expr("CAST((cms - cnt) * 1000000 div cnt AS BIGINT)").as("over_ppm")
      )
  }

  private val eventsCmsTopkSql =
    """WITH uc AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
      |bk AS (SELECT u.user_id, u.cnt, r.r,
      |         CAST(concat('0x', substr(md5(concat(CAST(r.r AS VARCHAR), ':', CAST(u.user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 512 AS b
      |       FROM uc u CROSS JOIN (SELECT unnest(range(4)) AS r) r),
      |counters AS (SELECT r, b, CAST(sum(cnt) AS BIGINT) AS c FROM bk GROUP BY 1, 2),
      |top AS (SELECT user_id, cnt FROM uc
      |        QUALIFY row_number() OVER (ORDER BY cnt DESC, user_id ASC) <= 20)
      |SELECT t.user_id, t.cnt AS exact_cnt,
      |  CAST(min(c.c) AS BIGINT) AS cms_estimate,
      |  CAST((min(c.c) - t.cnt) * 1000000 // t.cnt AS BIGINT) AS over_ppm
      |FROM top t
      |JOIN bk ON bk.user_id = t.user_id
      |JOIN counters c ON c.r = bk.r AND c.b = bk.b
      |GROUP BY t.user_id, t.cnt""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_cms_topk", Seq("B208"), eventsCmsTopk, eventsCmsTopkSql)
  )
}
