package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-8 additions, batch 15: privacy-preserving release and
  * variance-reduced experiment readout — the two statistical gates a
  * training-data organization runs before publishing corpus statistics
  * (differential privacy) and before reading an A/B result (CUPED).
  */
object QueriesExt21 {

  // --------------------------- DP count release (B143)

  /** Differentially-private per-source document counts: each true count is
    * released with Laplace(b = 2.0) noise (ε = 0.5 per count), the
    * standard mechanism for publishing corpus composition stats without
    * leaking individual membership. The noise is PSEUDO-random — the
    * Laplace inverse-CDF applied to a uniform derived from md5(source) —
    * so both engines draw the identical value from the group key alone:
    * u = ((h32(source) mod 1e6) + 0.5)/1e6 − 0.5 ∈ (−0.5, 0.5), noise =
    * −b·sign(u)·ln(1 − 2|u|). (A production release would use a real CSPRNG;
    * the mechanism, sensitivity-1 count shape, and post-processing are
    * what this query pins. The +0.5 centring keeps 1−2|u| strictly
    * positive, so ln never sees 0.) The released count is integerized —
    * post-processing is DP-free — which also keeps the comparison exact:
    * the only doubles are inside ln, and the final round-to-integer
    * absorbs any last-ulp libm divergence between engines.
    *
    * Scale shape: one map-side-combined count per source plus O(1) math
    * per group — the released table is group-cardinality-sized however
    * the corpus grows.
    */
  private def qDpCounts(s: SparkSession, dir: String): DataFrame = {
    val b = 2.0
    val u = ((graft.functions.Hashing.h32(col("source")) % 1000000L).cast("double") + lit(0.5)) /
      lit(1000000.0) - lit(0.5)
    val noise = -lit(b) * signum(u) * log(lit(1.0) - lit(2.0) * abs(u))
    documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("true_n"))
      .select(
        col("source"),
        col("true_n"),
        (col("true_n") + round(noise, 0).cast("long")).as("released_n"),
        lit(0.5).as("epsilon")
      )
  }

  private val qDpCountsSql =
    """WITH c AS (SELECT source, count(*) AS true_n FROM documents GROUP BY 1),
      |n AS (SELECT *,
      |    ((CAST('0x' || substr(md5(source), 1, 8) AS BIGINT) % 1000000) + 0.5) / 1000000.0 - 0.5 AS u
      |  FROM c)
      |SELECT source, true_n,
      |  true_n + CAST(round(-2.0 * sign(u) * ln(1.0 - 2.0 * abs(u)), 0) AS BIGINT) AS released_n,
      |  0.5 AS epsilon
      |FROM n""".stripMargin

  // --------------------------- CUPED adjusted A/B readout (B144)

  /** CUPED (Controlled-experiment Using Pre-Experiment Data) variance
    * reduction: the A/B readout of events_ab_test (B82), but each user's
    * post-period purchase value is adjusted by their PRE-period value —
    * adj = post − θ·(pre − mean(pre)), θ = cov(pre, post)/var(pre) — the
    * standard technique that shrinks experiment confidence intervals by
    * exactly the pre/post correlation (1 − ρ²). Users are split by the
    * same md5 hash as B82; pre = days 0–14, post = days 15–29 of the
    * fixture's 30-day window; users absent from a period contribute 0
    * (the population is every user with ≥ 1 purchase). Output: one row
    * per arm with n, raw post mean, CUPED-adjusted mean, the shared θ
    * (ppm), and the variance-reduction factor ρ² (ppm).
    *
    * Scale shape: one per-user hash-agg (map-side combined conditional
    * sums), then arm-level moment sums (2 rows) with the global moments
    * joined back — all moments are exact DECIMAL sums; doubles appear
    * only in the final θ/ρ² division, rounded for cross-engine parity
    * (the B82 idiom). The user table never shuffles twice.
    */
  private def eventsCuped(s: SparkSession, dir: String): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).cast("long")
    val v   = col("value").cast("decimal(18,2)")
    val perUser = events(s, dir)
      .where(col("event_type") === "purchase")
      .select(
        col("user_id"),
        (graft.functions.Hashing.h32(col("user_id").cast("string")) % 2).as("arm"),
        when(day < 15, v).otherwise(lit(0).cast("decimal(18,2)")).as("pre"),
        when(day >= 15, v).otherwise(lit(0).cast("decimal(18,2)")).as("post")
      )
      .groupBy(col("user_id"), col("arm"))
      .agg(sum(col("pre")).as("x"), sum(col("post")).as("y"))
    val arms = perUser
      .groupBy(col("arm"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy")
      )
    val g = arms.agg(
      sum(col("n")).as("gn"),
      sum(col("sx")).as("gsx"),
      sum(col("sy")).as("gsy"),
      sum(col("sxx")).as("gsxx"),
      sum(col("sxy")).as("gsxy"),
      sum(col("syy")).as("gsyy")
    )
    // θ and ρ² are GLOBAL (pooled) statistics — computed once from exact
    // sums, applied to both arms; double math only from here on
    val cov   = col("gsxy").cast("double") - col("gsx").cast("double") * col("gsy").cast("double") / col("gn")
    val varx  = col("gsxx").cast("double") - col("gsx").cast("double") * col("gsx").cast("double") / col("gn")
    val vary  = col("gsyy").cast("double") - col("gsy").cast("double") * col("gsy").cast("double") / col("gn")
    val theta = cov / varx
    val rho2  = cov * cov / (varx * vary)
    arms
      .crossJoin(g)
      .select(
        col("arm"),
        col("n"),
        round(col("sy").cast("double") / col("n"), 6).as("mean_post"),
        round(
          col("sy").cast("double") / col("n") -
            theta * (col("sx").cast("double") / col("n") - col("gsx").cast("double") / col("gn")),
          6
        ).as("mean_cuped"),
        round(theta * 1000000.0, 0).cast("long").as("theta_ppm"),
        round(rho2 * 1000000.0, 0).cast("long").as("var_reduction_ppm")
      )
  }

  private val eventsCupedSql =
    """WITH pu AS (SELECT user_id,
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 AS arm,
      |    sum(CASE WHEN datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) < 15
      |        THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS x,
      |    sum(CASE WHEN datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) >= 15
      |        THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |arms AS (SELECT arm, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
      |  FROM pu GROUP BY 1),
      |g AS (SELECT sum(n) AS gn, sum(sx) AS gsx, sum(sy) AS gsy,
      |    sum(sxx) AS gsxx, sum(sxy) AS gsxy, sum(syy) AS gsyy
      |  FROM arms),
      |k AS (SELECT
      |    (CAST(gsxy AS DOUBLE) - CAST(gsx AS DOUBLE) * CAST(gsy AS DOUBLE) / gn) AS cov,
      |    (CAST(gsxx AS DOUBLE) - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE) / gn) AS varx,
      |    (CAST(gsyy AS DOUBLE) - CAST(gsy AS DOUBLE) * CAST(gsy AS DOUBLE) / gn) AS vary,
      |    gsx, gn FROM g)
      |SELECT arm, n,
      |  round(CAST(sy AS DOUBLE) / n, 6) AS mean_post,
      |  round(CAST(sy AS DOUBLE) / n
      |    - (cov / varx) * (CAST(sx AS DOUBLE) / n - CAST(gsx AS DOUBLE) / gn), 6) AS mean_cuped,
      |  CAST(round(cov / varx * 1000000.0, 0) AS BIGINT) AS theta_ppm,
      |  CAST(round(cov * cov / (varx * vary) * 1000000.0, 0) AS BIGINT) AS var_reduction_ppm
      |FROM arms, k""".stripMargin

  // --------------------------- MMR diversified top-k (B145)

  /** Maximal Marginal Relevance reranking: retrieve the 20 most
    * query-similar vectors (query = the smallest vec_id's embedding),
    * then greedily pick 5 maximizing λ·rel − (1−λ)·max-sim-to-picked
    * (λ = 0.7) — the standard diversity reranker between retrieval and a
    * RAG context window / eval-set sample, so near-duplicate candidates
    * don't crowd out coverage. Every similarity is rounded to 6 dp before
    * entering a comparison (the sim-family parity idiom); ties break by
    * vec_id; the first pick's diversity term is 0.
    *
    * Scale shape: retrieval is the corpus-linear part (brute-force here
    * as the oracle anchor; the LSH/IVF paths are the scale variants);
    * MMR itself runs over the BOUNDED candidate set — k driver rounds,
    * each a ≤ k-row broadcast of picked vectors against 20 candidate
    * rows, only the 1-row argmax returning to the driver (the k-means
    * model-sized-state precedent). At production candidate counts (100s–
    * 1000s) the same rounds stay partition-parallel with a k-row
    * broadcast — never a candidate×candidate shuffle.
    */
  private def simMmr(s: SparkSession, dir: String): DataFrame = {
    import operators.Similarity.{cosine => cos}
    val k      = 5
    val nCand  = 20
    val lambda = 0.7
    val emb = embeddings(s, dir).select(
      col("vec_id").cast("long").as("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("e")
    )
    val qRow = emb.orderBy(col("vec_id").asc).limit(1).collect()(0)
    val qId  = qRow.getLong(0)
    val qVec = qRow.getSeq[Double](1).toArray
    val qCol = array(qVec.map(lit).toIndexedSeq: _*)
    val cands = emb
      .filter(col("vec_id") =!= qId)
      .withColumn("rel", round(cos(col("e"), qCol), 6))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(nCand)
      .persist()

    // greedy MMR: picked vectors are the only driver state (≤ k × dim
    // doubles — model-sized); each round is one bounded Spark job
    var picked = Vector.empty[(Long, Array[Double], Double, Double)]
    for (_ <- 1 to k) {
      val sims = picked.map { case (_, pv, _, _) =>
        round(cos(col("e"), array(pv.map(lit).toIndexedSeq: _*)), 6)
      }
      val maxSim = sims.size match {
        case 0 => lit(0.0)
        case 1 => sims.head
        case _ => greatest(sims: _*)
      }
      val scored = (if (picked.isEmpty) cands else cands.filter(!col("vec_id").isin(picked.map(_._1): _*)))
        .withColumn("score", round(lit(lambda) * col("rel") - lit(1.0 - lambda) * maxSim, 6))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(1)
        .collect()(0)
      picked :+= ((
        scored.getAs[Long]("vec_id"),
        scored.getAs[scala.collection.Seq[Double]]("e").toArray,
        scored.getAs[Double]("rel"),
        scored.getAs[Double]("score")
      ))
    }
    cands.unpersist()
    s.createDataFrame(
      picked.zipWithIndex.map { case ((id, _, rel, score), i) => (i + 1L, id, rel, score) }
    ).toDF("pick_rank", "vec_id", "rel", "mmr_score")
  }

  /** Oracle: the same greedy unrolled as k chained CTEs (p1..p5), each
    * step excluding prior picks and taking the (score desc, id asc)
    * argmax with the diversity term as a correlated max over the union
    * of prior steps.
    */
  private val simMmrSql = {
    val k      = 5
    val lambda = "0.7"
    def pickedUnion(r: Int) = (1 until r).map(i => s"SELECT vec_id, e FROM p$i").mkString(" UNION ALL ")
    val steps = (1 to k).map { r =>
      if (r == 1)
        s"""p1 AS (SELECT vec_id, e, rel, round($lambda * rel - 0.3 * 0.0, 6) AS score FROM cand
           |  ORDER BY round($lambda * rel - 0.3 * 0.0, 6) DESC, vec_id ASC LIMIT 1)"""
      else
        s"""p$r AS (SELECT vec_id, e, rel, score FROM (
           |    SELECT c.vec_id, c.e, c.rel,
           |      round($lambda * c.rel - 0.3 * (SELECT max(round(list_cosine_similarity(c.e, p.e), 6))
           |                                     FROM (${pickedUnion(r)}) p), 6) AS score
           |    FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM (${pickedUnion(r)})))
           |  ORDER BY score DESC, vec_id ASC LIMIT 1)"""
    }
    val out = (1 to k).map(r => s"SELECT $r AS pick_rank, vec_id, rel, score AS mmr_score FROM p$r")
      .mkString(" UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT e FROM v ORDER BY vec_id ASC LIMIT 1),
       |cand AS (SELECT vec_id, e,
       |    round(list_cosine_similarity(e, (SELECT e FROM q)), 6) AS rel
       |  FROM v WHERE vec_id != (SELECT min(vec_id) FROM v)
       |  ORDER BY rel DESC, vec_id ASC LIMIT 20),
       |${steps.mkString(",\n")}
       |$out""".stripMargin
  }

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_dp_counts", Seq("B143"), qDpCounts, qDpCountsSql),
    QuerySpec("events_cuped", Seq("B144"), eventsCuped, eventsCupedSql),
    QuerySpec("sim_mmr", Seq("B145"), simMmr, simMmrSql)
  )
}
