package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.{normSql, shinglesSql}

/** Round-10 additions, batch 55: planted-truth recall for the MinHash
  * near-dup detector — B103 derives the banding curve THEORETICALLY
  * (P(detect|j) = 1−(1−j⁴)⁴ for 4×4 bands); this measures it against
  * constructed ground truth, the certification a dedup system ships
  * with ("at 70% overlap we catch ~2/3 of dups; raise bands or lower τ
  * if that's not enough").
  */
object QueriesExt62 {

  // --------------------------- planted-recall certification (B248)

  /** MinHash-LSH recall against PLANTED near-duplicates
    * (`dedup_planted_recall`): every 5th document gets three staged
    * copies — ` zz` appended (jaccard ≈ 1), truncated to 90%
    * (jaccard ≈ 0.9), truncated to 70% (jaccard ≈ 0.7) — with
    * collision-proof id offsets; the B3 detector (16 md5 perms, 4×4
    * bands, verify τ=0.5) then runs over the staged corpus and each
    * level reports planted pairs, found pairs, recall, and the mean
    * verified jaccard of the found set. The banding theorem predicts
    * recall 1−(1−j⁴)⁴ ≈ 100% / 98% / 67% for the three levels — this
    * query is the empirical check of that curve, on real corpus text
    * rather than the theorem's independence assumptions.
    *
    * Scale shape: staging is a scan-side union (no join); the detector
    * is B3's banded pipeline (never all-pairs); the planted list is
    * corpus/5 × 3 rows equi-joined to the bounded found-pair list; the
    * readout is a 3-row agg.
    */
  private def dedupPlantedRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"), col("text"))
    val fifth = docs.where(col("doc_id") % 5 === 0)
    val copies = Seq(
      ("append_zz", 1000000000000L, concat(col("text"), lit(" zz"))),
      ("trunc_90", 2000000000000L,
        expr("substring(text, 1, length(text) - length(text) div 10)")),
      ("trunc_70", 3000000000000L,
        expr("substring(text, 1, length(text) - length(text) * 3 div 10)"))
    )
    val staged = copies.foldLeft(docs) { case (acc, (_, off, t)) =>
      acc.unionByName(fifth.select((col("doc_id") + off).as("doc_id"), t.as("text")))
    }
    val found = operators.Dedup
      .minhashPairs(staged, "doc_id", "text", 3, 0.5)
      .select(col("id_a"), col("id_b"),
        expr("CAST(round(jaccard * 1000000) AS BIGINT)").as("jac_ppm"))
    val planted = copies
      .map { case (lvl, off, _) =>
        fifth.select(lit(lvl).as("level"), col("doc_id").as("id_a"),
          (col("doc_id") + off).as("id_b"))
      }
      .reduce(_ unionByName _)
    planted
      .join(found, Seq("id_a", "id_b"), "left")
      .groupBy(col("level"))
      .agg(
        count(lit(1)).as("n_planted"),
        sum(when(col("jac_ppm").isNotNull, 1L).otherwise(0L)).as("n_found"),
        expr("CAST(sum(CASE WHEN jac_ppm IS NOT NULL THEN 1 ELSE 0 END) * 1000000 div count(1) AS BIGINT)")
          .as("recall_ppm"),
        expr("CASE WHEN sum(CASE WHEN jac_ppm IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 0 " +
          "ELSE sum(coalesce(jac_ppm, 0)) div sum(CASE WHEN jac_ppm IS NOT NULL THEN 1 ELSE 0 END) END")
          .as("mean_found_jac_ppm"))
  }

  private val dedupPlantedRecallSql = {
    import QueriesExt.{h32Sql, permsA, permsB}
    s"""WITH st AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000000000, text || ' zz'
       |    FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL SELECT doc_id + 2000000000000,
       |      substr(text, 1, len(text) - len(text) // 10)
       |    FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL SELECT doc_id + 3000000000000,
       |      substr(text, 1, len(text) - len(text) * 3 // 10)
       |    FROM documents WHERE doc_id % 5 = 0),
       |nrm AS (SELECT doc_id, $normSql AS norm FROM st),
       |tok AS (SELECT doc_id, norm, string_split(norm,' ') AS toks FROM nrm),
       |sh AS (SELECT doc_id, ${shinglesSql(3)} AS shingles FROM tok),
       |hs AS (SELECT doc_id, [${h32Sql("s")} for s in shingles] AS hlist,
       |       list_distinct(shingles) AS sset FROM sh),
       |sg AS (SELECT doc_id,
       |  [list_min([($permsA[i]*h + $permsB[i]) % 4294967311 for h in hlist]) for i in range(1,17)] AS sig
       |  FROM hs),
       |bd AS (SELECT doc_id, b AS band,
       |  ${h32Sql("concat_ws(':', sig[4*b+1], sig[4*b+2], sig[4*b+3], sig[4*b+4])")} AS band_hash
       |  FROM sg, range(0,4) t(b)),
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bd x JOIN bd y ON x.band=y.band AND x.band_hash=y.band_hash AND x.doc_id<y.doc_id),
       |sets AS (SELECT doc_id, unnest(sset) AS shingle FROM hs),
       |sz AS (SELECT doc_id, CAST(len(sset) AS BIGINT) AS set_size FROM hs),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter FROM cand c
       |  JOIN sets sa ON sa.doc_id = c.id_a
       |  JOIN sets sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |found AS MATERIALIZED (
       |  SELECT id_a, id_b, CAST(round(jaccard * 1000000) AS BIGINT) AS jac_ppm FROM (
       |    SELECT i.id_a, i.id_b,
       |      round(i.n_inter::DOUBLE/(za.set_size + zb.set_size - i.n_inter), 6) AS jaccard
       |    FROM inter i JOIN sz za ON za.doc_id = i.id_a JOIN sz zb ON zb.doc_id = i.id_b)
       |  WHERE jaccard >= 0.5),
       |planted AS (
       |  SELECT lvl AS level, doc_id AS id_a, doc_id + off AS id_b
       |  FROM documents,
       |    (SELECT unnest(['append_zz', 'trunc_90', 'trunc_70']) AS lvl,
       |            unnest([1000000000000, 2000000000000, 3000000000000]) AS off)
       |  WHERE doc_id % 5 = 0)
       |SELECT p.level, count(*) AS n_planted,
       |  CAST(sum(CASE WHEN f.jac_ppm IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       |  CAST(sum(CASE WHEN f.jac_ppm IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
       |    AS recall_ppm,
       |  CAST(CASE WHEN sum(CASE WHEN f.jac_ppm IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 0
       |    ELSE sum(coalesce(f.jac_ppm, 0)) // sum(CASE WHEN f.jac_ppm IS NOT NULL THEN 1 ELSE 0 END)
       |  END AS BIGINT) AS mean_found_jac_ppm
       |FROM planted p
       |LEFT JOIN found f ON f.id_a = p.id_a AND f.id_b = p.id_b
       |GROUP BY 1""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_planted_recall", Seq("B248"), dedupPlantedRecall, dedupPlantedRecallSql)
  )
}
