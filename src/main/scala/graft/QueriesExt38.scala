package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 32: the hubness audit — high-dimensional
  * ANN's classic pathology, measured on the kNN graph the engine already
  * builds.
  */
object QueriesExt38 {

  // --------------------------- kNN hubness audit (B199)

  /** In-degree distribution of B29's kNN graph: for every vector, how
    * many OTHER vectors list it among their top-k neighbors, bucketed by
    * binary magnitude (degree-0 anti-hubs get their own bucket). Hubness
    * is the known high-dimensional failure mode — a few vectors appear
    * in everyone's neighbor list, crowding out true neighbors — and it
    * silently degrades every downstream consumer (kNN classification,
    * dedup via neighbor overlap, retrieval negatives). A healthy index
    * concentrates mass near bucket ⌈log₂ k⌉; growing high buckets or a
    * swelling anti-hub bucket is the signal to re-embed or re-weight
    * before trusting neighbor-based curation.
    *
    * Scale shape: edges as B29 (RP-LSH banded, never all-pairs);
    * in-degree is one hash-agg on nbr_id; the anti-hub join is
    * corpus-linear; the final agg has ≤65 buckets.
    */
  private def simHubness(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val edges = operators.Similarity.knnGraph(
      emb, "vec_id", "embedding", k = 3, tau = 0.0,
      bitsPerBand = operators.Similarity.bitsFor(emb.count())
    )
    val inDeg = edges.groupBy(col("nbr_id")).agg(count(lit(1)).as("in_deg"))
    emb
      .select(col("vec_id").as("nbr_id"))
      .join(inDeg, Seq("nbr_id"), "left")
      .select(coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .groupBy(
        expr("CASE WHEN in_deg = 0 THEN 0 ELSE CAST(length(bin(in_deg)) AS BIGINT) END")
          .as("deg_bucket")
      )
      .agg(
        count(lit(1)).as("n_vecs"),
        max(col("in_deg")).as("max_in_degree")
      )
  }

  private val simHubnessSql =
    s"""WITH ${QueriesExt10.rpCandPairsSql("0.0")},
       |sym AS (SELECT id_a AS src, id_b AS nbr, cosine FROM pairs
       |        UNION ALL SELECT id_b, id_a, cosine FROM pairs),
       |knn AS (
       |  SELECT src, nbr FROM (
       |    SELECT src, nbr, row_number() OVER (PARTITION BY src ORDER BY cosine DESC, nbr) AS rn
       |    FROM sym)
       |  WHERE rn <= 3),
       |indeg AS (SELECT nbr, count(*) AS c FROM knn GROUP BY 1),
       |alldeg AS (
       |  SELECT coalesce(i.c, 0) AS in_deg
       |  FROM embeddings v LEFT JOIN indeg i ON i.nbr = v.vec_id)
       |SELECT CASE WHEN in_deg = 0 THEN 0 ELSE CAST(length(bin(in_deg)) AS BIGINT) END AS deg_bucket,
       |  count(*) AS n_vecs,
       |  CAST(max(in_deg) AS BIGINT) AS max_in_degree
       |FROM alldeg GROUP BY 1""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_hubness", Seq("B199"), simHubness, simHubnessSql)
  )
}
