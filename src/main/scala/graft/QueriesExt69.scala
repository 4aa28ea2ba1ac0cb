package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 62: the B180 one-pass threshold-sweep
  * discipline applied to the MULTIMODAL near-dup layer — B30 detects at
  * a fixed Hamming ≤ 3; this is the table that says what each
  * alternative threshold would have admitted, from the same single
  * banding pass.
  */
object QueriesExt69 {

  // --------------------------- pHash threshold sweep (B257)

  /** Perceptual-hash Hamming-threshold sweep (`mm_phash_threshold_sweep`):
    * B30's exact staging (documents as payloads plus one-char-jittered
    * copies) and banded candidate generation run ONCE at the loosest
    * threshold (≤ 3); each candidate pair's Hamming distance is then
    * counted under τ ∈ {1, 2, 3}, with pair volume and the mean distance
    * of admitted pairs per row — the admit-volume-vs-strictness curve an
    * operator reads before moving the multimodal dedup threshold, at the
    * cost of one pass instead of three (counts are monotone in τ by
    * construction, the property B180 establishes for the lexical layer).
    *
    * Scale shape: staging is a scan-side union; candidates come from
    * B30's 4-band pigeonhole (a pair must share one exact band — never
    * all-pairs, mega-bucket guarded in the operator); the sweep is a ×3
    * literal explode of the already-bounded pair list into a 3-row agg.
    */
  private def mmPhashThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val media = docs
      .select(col("doc_id").as("id"), col("text").as("payload"))
      .union(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("id"), concat(col("text"), lit("x")).as("payload")))
    val hashed = media.select(col("id"), operators.Multimodal.pHashHex(col("payload")).as("phash"))
    val pairs = operators.Multimodal.pHashNearDup(hashed, maxDist = 3)
      .select(col("hamming"))
    pairs
      .crossJoin(broadcast(
        pairs.sparkSession.range(1).select(explode(array(lit(1L), lit(2L), lit(3L))).as("tau"))))
      .groupBy(col("tau"))
      .agg(
        sum(when(col("hamming") <= col("tau"), 1L).otherwise(0L)).as("n_pairs"),
        expr("CASE WHEN sum(CASE WHEN hamming <= tau THEN 1 ELSE 0 END) = 0 THEN 0 " +
          "ELSE sum(CASE WHEN hamming <= tau THEN hamming ELSE 0 END) * 1000 " +
          "div sum(CASE WHEN hamming <= tau THEN 1 ELSE 0 END) END").as("mean_hamming_milli"))
  }

  private val mmPhashThresholdSweepSql = {
    val digits = (0 until 16).map { i =>
      s"substr(md5(substr(payload, ${i * 16 + 1}, 16)), 1, 1)"
    }
    s"""WITH media AS (
       |  SELECT doc_id AS id, text AS payload FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS id, text || 'x' AS payload FROM documents WHERE doc_id % 10 = 0),
       |ph AS (SELECT id, ${digits.mkString(" || ")} AS phash FROM media),
       |g AS (SELECT phash, min(id) AS id, count(*) AS n FROM ph GROUP BY 1),
       |b AS (SELECT id, phash, n,
       |      unnest([substr(phash,1,4), substr(phash,5,4), substr(phash,9,4), substr(phash,13,4)]) AS bval,
       |      unnest([0, 1, 2, 3]) AS band FROM g),
       |bf AS (SELECT * FROM b WHERE bval != 'dddd'),
       |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |         FROM bf x JOIN bf y ON x.band = y.band AND x.bval = y.bval AND x.id < y.id),
       |h AS (SELECT c.id_a, c.id_b,
       |      CAST(list_sum([CASE WHEN substr(a.phash, i, 1) != substr(z.phash, i, 1) THEN 1 ELSE 0 END
       |                     for i in range(1, 17)]) AS BIGINT) AS hamming
       |      FROM cand c JOIN g a ON c.id_a = a.id JOIN g z ON c.id_b = z.id),
       |pairs AS (SELECT hamming FROM h WHERE hamming <= 3)
       |SELECT t.tau,
       |  CAST(sum(CASE WHEN p.hamming <= t.tau THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       |  CAST(CASE WHEN sum(CASE WHEN p.hamming <= t.tau THEN 1 ELSE 0 END) = 0 THEN 0
       |    ELSE sum(CASE WHEN p.hamming <= t.tau THEN p.hamming ELSE 0 END) * 1000
       |      // sum(CASE WHEN p.hamming <= t.tau THEN 1 ELSE 0 END)
       |  END AS BIGINT) AS mean_hamming_milli
       |FROM pairs p, (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS tau) t
       |GROUP BY 1""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("mm_phash_threshold_sweep", Seq("B257"), mmPhashThresholdSweep, mmPhashThresholdSweepSql)
  )
}
