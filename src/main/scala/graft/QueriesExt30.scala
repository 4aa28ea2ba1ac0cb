package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-8 additions, batch 24: filtered vector search and SCD2 retention
  * planning — the metadata-constrained retrieval mode every vector store
  * now ships, and the vacuum advisor for the history table the CDC family
  * builds.
  */
object QueriesExt30 {

  // --------------------------- filtered similarity search (B174)

  /** Metadata-filtered top-k: cosine top-5 per audit probe over ONLY the
    * corpus rows whose label ∈ {0,1,2} — the "filtered ANN" mode
    * (tenant/language/license constraints) that changes the plan, not
    * just the result: the predicate applies BEFORE scoring, so the scan
    * prunes to the eligible stratum and the score join touches a fraction
    * of the corpus (post-filtering an unfiltered top-k instead would
    * return < k rows whenever the filter is selective).
    *
    * Scale shape: the label predicate pushes to the parquet scan; the
    * scoring pass is the bruteForceTopK broadcast shape on the filtered
    * stratum; at index scale the same filter composes with IVF cells
    * (filter ∧ cell membership), which stays cell-bounded.
    */
  private def simFilteredTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    operators.Similarity.bruteForceTopK(
      emb.filter(col("label").isin(0, 1, 2)),
      emb.filter(col("vec_id") < 5),
      "vec_id",
      "embedding",
      k = 5
    )
  }

  private val simFilteredTopKSql =
    """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      |q AS (SELECT * FROM v WHERE vec_id < 5),
      |c AS (SELECT * FROM v WHERE label IN (0, 1, 2)),
      |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |    round(list_cosine_similarity(q.e, c.e), 6) AS cosine
      |  FROM q JOIN c ON c.vec_id != q.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, corpus_id, cosine, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5""".stripMargin

  // --------------------------- SCD2 vacuum plan (B175)

  /** Retention/vacuum advisor for the SCD2 history (B10's read side): with
    * a 7-day retention window behind the corpus high-water mark, how many
    * closed versions are reclaimable — the number a scheduled vacuum run
    * reports before deleting. One summary row: total versions, closed
    * versions, reclaimable (closed AND valid_to older than the cutoff),
    * reclaim ppm, and the cutoff itself. Exact integer epoch-ms
    * arithmetic.
    *
    * Scale shape: the same per-user lead() window that builds the history
    * (user-partitioned), a 1-row max broadcast for the cutoff, one
    * conditional-sum rollup.
    */
  private def cdcVacuumPlan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms").asc, col("event_id").asc)
    val hist = events(s, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("valid_to_ms", lead(col("ms"), 1).over(w))
    hist
      .crossJoin(broadcast(hist.agg(max(col("ms")).as("hwm_ms"))))
      .agg(
        count(lit(1)).as("n_versions"),
        sum(when(col("valid_to_ms").isNotNull, 1L).otherwise(0L)).as("n_closed"),
        sum(
          when(col("valid_to_ms").isNotNull && col("valid_to_ms") < col("hwm_ms") - lit(604800000L), 1L)
            .otherwise(0L)
        ).as("n_reclaimable"),
        max(col("hwm_ms") - lit(604800000L)).as("cutoff_ms")
      )
      .select(
        col("n_versions"), col("n_closed"), col("n_reclaimable"), col("cutoff_ms"),
        expr("CAST(n_reclaimable * 1000000 div n_versions AS BIGINT)").as("reclaim_ppm")
      )
  }

  private val cdcVacuumPlanSql =
    """WITH hist AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    lead(epoch_ms(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) ASC, event_id ASC) AS valid_to_ms
      |  FROM events),
      |hwm AS (SELECT max(ms) AS hwm_ms FROM hist)
      |SELECT count(*) AS n_versions,
      |  CAST(sum(CASE WHEN valid_to_ms IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
      |  CAST(sum(CASE WHEN valid_to_ms IS NOT NULL AND valid_to_ms < hwm_ms - 604800000 THEN 1 ELSE 0 END) AS BIGINT) AS n_reclaimable,
      |  max(hwm_ms - 604800000) AS cutoff_ms,
      |  CAST(sum(CASE WHEN valid_to_ms IS NOT NULL AND valid_to_ms < hwm_ms - 604800000 THEN 1 ELSE 0 END) * 1000000
      |       // count(*) AS BIGINT) AS reclaim_ppm
      |FROM hist, hwm""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_filtered_topk", Seq("B174"), simFilteredTopK, simFilteredTopKSql),
    QuerySpec("cdc_vacuum_plan", Seq("B175"), cdcVacuumPlan, cdcVacuumPlanSql)
  )
}
