package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-8 additions, batch 25: the mixture-rebalance ACTION plan (what
  * sampling rate per source hits the target mix) and embedding-centroid
  * drift — the monitoring op that tells a vector pipeline its encoder or
  * corpus moved.
  */
object QueriesExt31 {

  // --------------------------- mixture rebalance plan (B176)

  /** The action step behind B27's mixture weights: given a UNIFORM target
    * mix across sources, the per-source sampling rate (ppm, capped at
    * 1e6 — we downsample, never duplicate) that lands each source at its
    * token quota, plus the before/after shares and the post-rebalance
    * token count. Everything is exact integer arithmetic on token
    * counts — the plan a curation run feeds directly into q_hash_sample's
    * deterministic sampler.
    *
    * Scale shape: one tokenize+count scan (map-side combined) + a 1-row
    * total broadcast; the plan table is sources-sized.
    */
  private def corpusRebalancePlan(s: SparkSession, dir: String): DataFrame = {
    val perSource = documents(s, dir)
      .select(col("source"), size(operators.TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
    perSource
      .crossJoin(broadcast(perSource.agg(
        sum(col("tokens")).as("total_tokens"),
        count(lit(1)).as("n_sources")
      )))
      .select(
        col("source"),
        col("n_docs"),
        col("tokens"),
        expr("CAST(tokens * 1000000 div total_tokens AS BIGINT)").as("share_ppm"),
        expr("CAST(1000000 div n_sources AS BIGINT)").as("target_ppm"),
        expr("CAST(least(1000000, (total_tokens div n_sources) * 1000000 div tokens) AS BIGINT)")
          .as("sample_rate_ppm"),
        expr("CAST(least(tokens, total_tokens div n_sources) AS BIGINT)").as("tokens_after")
      )
  }

  private val corpusRebalancePlanSql =
    """WITH per_source AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(regexp_replace(lower(trim(text)),'\s+',' ','g'), ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1),
      |tot AS (SELECT sum(tokens) AS total_tokens, count(*) AS n_sources FROM per_source)
      |SELECT source, n_docs, tokens,
      |  CAST(tokens * 1000000 // total_tokens AS BIGINT) AS share_ppm,
      |  CAST(1000000 // n_sources AS BIGINT) AS target_ppm,
      |  CAST(least(1000000, (total_tokens // n_sources) * 1000000 // tokens) AS BIGINT) AS sample_rate_ppm,
      |  CAST(least(tokens, total_tokens // n_sources) AS BIGINT) AS tokens_after
      |FROM per_source, tot""".stripMargin

  // --------------------------- embedding centroid drift (B177)

  /** Per-label embedding drift: the corpus is split into deterministic
    * halves (vec_id parity — a stand-in for before/after an encoder or
    * ingestion change), per-label centroids are computed for each half,
    * and the readout is the centroid cosine plus both half-counts — the
    * monitor that catches encoder versions drifting apart or a label's
    * content shifting, complementing B98 (text source drift) and B43
    * (within-corpus outliers).
    *
    * Parity scheme: per-(label, dim, half) centroids are snapped once to
    * nano-ints (the only order-sensitive double sums, absorbed by the
    * snap), then the cross/self dot products are exact BIGINT sums over
    * the 64 dims and the final cosine is IEEE arithmetic on those exact
    * integers — deterministic ties everywhere.
    *
    * Scale shape: one posexplode hash-agg to (label × 64 × 2) centroid
    * rows; the dot products join label×dim — dimension-table-sized
    * however large the corpus.
    */
  private def embedCentroidDrift(s: SparkSession, dir: String): DataFrame = {
    val cent = embeddings(s, dir)
      .select(
        col("label"),
        (col("vec_id") % 2 === 0).as("even"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x"))
      )
      .groupBy(col("label"), col("even"), col("dim"))
      .agg(floor(avg(col("x")) * 1e9 + 0.5).cast("long").as("c"))
    val a = cent.where(col("even")).select(col("label"), col("dim"), col("c").as("ca"))
    val b = cent.where(!col("even")).select(col("label"), col("dim"), col("c").as("cb"))
    a.join(b, Seq("label", "dim"))
      .groupBy(col("label"))
      .agg(
        sum(col("ca") * col("cb")).as("dotab"),
        sum(col("ca") * col("ca")).as("dotaa"),
        sum(col("cb") * col("cb")).as("dotbb")
      )
      .select(
        col("label"),
        expr("""round(CAST(dotab AS DOUBLE) /
               |  (sqrt(CAST(dotaa AS DOUBLE)) * sqrt(CAST(dotbb AS DOUBLE))), 6)""".stripMargin)
          .as("centroid_cosine")
      )
  }

  private val embedCentroidDriftSql =
    """WITH ex AS (
      |  SELECT label, vec_id % 2 = 0 AS even,
      |    generate_subscripts(embedding::DOUBLE[], 1) AS dim,
      |    unnest(embedding::DOUBLE[]) AS x
      |  FROM embeddings),
      |cent AS (
      |  SELECT label, even, dim, CAST(floor(avg(x) * 1e9 + 0.5) AS BIGINT) AS c
      |  FROM ex GROUP BY 1, 2, 3),
      |j AS (
      |  SELECT a.label, sum(a.c * b.c) AS dotab, sum(a.c * a.c) AS dotaa, sum(b.c * b.c) AS dotbb
      |  FROM (SELECT * FROM cent WHERE even) a
      |  JOIN (SELECT * FROM cent WHERE NOT even) b USING (label, dim)
      |  GROUP BY 1)
      |SELECT label,
      |  round(CAST(dotab AS DOUBLE) / (sqrt(CAST(dotaa AS DOUBLE)) * sqrt(CAST(dotbb AS DOUBLE))), 6) AS centroid_cosine
      |FROM j""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("corpus_rebalance_plan", Seq("B176"), corpusRebalancePlan, corpusRebalancePlanSql),
    QuerySpec("embed_centroid_drift", Seq("B177"), embedCentroidDrift, embedCentroidDriftSql)
  )
}
