package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._

/** Round-10 additions, batch 57: model selection for the clustering/IVF
  * family — B50 assigns at a FIXED k and B197 audits one index's cell
  * balance; this is the table that picks k in the first place.
  */
object QueriesExt64 {

  // --------------------------- k-means/IVF elbow table (B250)

  /** Seed-assignment inertia at k ∈ {2, 4, 8, 16}
    * (`embed_kmeans_elbow`): for each k, vectors assign to their nearest
    * of the first k md5-ranked seed centroids (EXACTLY the frozen
    * geometry B4's IVF and B50's k-means start from — so this elbow
    * directly prices those operators' k), inertia is the exact BIGINT
    * sum of micro-snapped round-6 squared distances, and `drop_ppm` is
    * the marginal inertia reduction over the previous k — the elbow
    * read: when the drop flattens, extra cells buy routing cost, not
    * cohesion. Doubling k 2→16 here buys a measured, monotone, and
    * diminishing drop on the near-isotropic fixture cloud — consistent
    * with B237's 2.6% top component (no k rescues an isotropic cloud).
    *
    * Parity scheme: distances are the proven IVF dot-product chains
    * rounded once to 6 dp; the per-vector min over k candidates happens
    * on those snapped doubles (ties irrelevant — only the min VALUE is
    * consumed), and the corpus sum is of micro-snapped BIGINTs, so both
    * engines add identical integers in any order.
    *
    * Scale shape: per k, ONE codegen scan against k literal centroid
    * arrays (the ivfTopK assignment shape — no join, no shuffle beyond
    * the 1-row agg); the seed pull is a model-bounded driver collect
    * (≤16 × 64 doubles, the kmeans/IVF idiom); the 4-row elbow window
    * is constant-sized.
    */
  private def embedKmeansElbow(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity.dot
    val e = embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val seeds: Seq[Array[Double]] = e
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h").asc, col("vec_id").asc)
      .limit(16)
      .select(col("v"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
      .toIndexedSeq
    val rows = Seq(2, 4, 8, 16).map { k =>
      val structs = seeds.take(k).zipWithIndex.map { case (c, cid) =>
        val cl = array(c.map(lit): _*)
        struct(
          round(dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), cl) + lit(c.map(x => x * x).sum), 6)
            .as("d2"),
          lit(cid).as("cluster"))
      }
      e.withColumn("best", least(structs: _*))
        .agg(sum(expr("CAST(round(best.d2 * 1000000) AS BIGINT)")).as("inertia_micro"))
        .select(lit(k.toLong).as("k"), col("inertia_micro"))
    }
    rows
      .reduce(_ unionByName _)
      .withColumn("prev", lag(col("inertia_micro"), 1).over(Window.orderBy(col("k").asc)))
      .select(
        col("k"), col("inertia_micro"),
        expr("CASE WHEN prev IS NULL THEN NULL ELSE (prev - inertia_micro) * 1000000 div prev END")
          .as("drop_ppm"))
  }

  private val embedKmeansElbowSql = {
    def level(k: Int) =
      s"""SELECT $k AS k, CAST(sum(md) AS BIGINT) AS inertia_micro FROM (
         |    SELECT e.vec_id,
         |      CAST(round(min(round(list_dot_product(e.v, e.v)
         |        - 2.0 * list_dot_product(e.v, s.v) + list_dot_product(s.v, s.v), 6)) * 1000000) AS BIGINT) AS md
         |    FROM e, (SELECT v FROM seeds WHERE rk <= $k) s
         |    GROUP BY 1)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS MATERIALIZED (
       |  SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rk
       |  FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16),
       |lv AS (
       |${level(2)}
       |  UNION ALL
       |${level(4)}
       |  UNION ALL
       |${level(8)}
       |  UNION ALL
       |${level(16)})
       |SELECT CAST(k AS BIGINT) AS k, inertia_micro,
       |  CASE WHEN lag(inertia_micro) OVER (ORDER BY k ASC) IS NULL THEN NULL
       |    ELSE (lag(inertia_micro) OVER (ORDER BY k ASC) - inertia_micro) * 1000000
       |      // lag(inertia_micro) OVER (ORDER BY k ASC)
       |  END AS drop_ppm
       |FROM lv""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("embed_kmeans_elbow", Seq("B250"), embedKmeansElbow, embedKmeansElbowSql)
  )
}
