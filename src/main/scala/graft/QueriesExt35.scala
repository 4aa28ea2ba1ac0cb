package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 29: three corpus-health operators — the
  * per-dimension embedding profile (dead/drifting dims), the near-dup
  * language confusion matrix (cross-lingual contamination signal), and
  * the dedup-rate-by-length bias audit that complements B186's by-source
  * mixture report.
  */
object QueriesExt35 {

  // --------------------------- per-dimension embedding stats (B192)

  /** Embedding-column health profile, per dimension: n, integer-snapped
    * value sum, min/max, and standard deviation — the table that catches
    * dead dimensions (sd ≈ 0), scale drift between model versions
    * (per-dim sum shifts), and clipped dims (min/max pinned) before a
    * similarity index is built on top.
    *
    * Float sums are order-dependent, so values are snapped to integer
    * micro-units BEFORE aggregation (the B184 discipline): BIGINT sums
    * are exact and associative, giving identical results on any plan.
    * The snap is exact-boundary-safe: float values are dyadic rationals,
    * so x·10⁶ can never land exactly on .5. Squares aggregate in
    * milli-units to bound the sum (|x|≲2 ⇒ x_milli² ≤ 4·10⁶; overflow
    * needs ~10¹² values per dimension).
    *
    * Scale shape: one scan → posexplode (dims× rows) → (dim) hash-agg,
    * map-side combined into a key space of exactly `dims` — the
    * downstream agg is bounded no matter the corpus size.
    */
  private def embedDimStats(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(
        col("dim").cast("long").as("dim"),
        round(col("x").cast("double") * 1000000).cast("long").as("xm"),
        round(col("x").cast("double") * 1000).cast("long").as("xk")
      )
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n_vals"),
        sum(col("xm")).as("sum_micro"),
        min(col("xm")).as("min_micro"),
        max(col("xm")).as("max_micro"),
        sum(col("xk") * col("xk")).as("ssq_milli2"),
        sum(col("xk")).as("sum_milli")
      )
      .select(
        col("dim"),
        col("n_vals"),
        col("sum_micro"),
        col("min_micro"),
        col("max_micro"),
        round(
          sqrt(greatest(
            col("ssq_milli2").cast("double") / col("n_vals") -
              (col("sum_milli").cast("double") / col("n_vals")) *
              (col("sum_milli").cast("double") / col("n_vals")),
            lit(0.0)
          )),
          3
        ).as("sd_milli")
      )

  private val embedDimStatsSql =
    """WITH ex AS (
      |  SELECT generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding) AS x
      |  FROM embeddings),
      |snapped AS (
      |  SELECT CAST(dim AS BIGINT) AS dim,
      |    CAST(round(x::DOUBLE * 1000000) AS BIGINT) AS xm,
      |    CAST(round(x::DOUBLE * 1000) AS BIGINT) AS xk
      |  FROM ex),
      |agg AS (
      |  SELECT dim, count(*) AS n_vals,
      |    CAST(sum(xm) AS BIGINT) AS sum_micro,
      |    min(xm) AS min_micro, max(xm) AS max_micro,
      |    CAST(sum(xk * xk) AS BIGINT) AS ssq_milli2,
      |    CAST(sum(xk) AS BIGINT) AS sum_milli
      |  FROM snapped GROUP BY 1)
      |SELECT dim, n_vals, sum_micro, min_micro, max_micro,
      |  round(sqrt(greatest(
      |    ssq_milli2::DOUBLE / n_vals -
      |      (sum_milli::DOUBLE / n_vals) * (sum_milli::DOUBLE / n_vals),
      |    0.0)), 3) AS sd_milli
      |FROM agg""".stripMargin

  // --------------------------- near-dup language matrix (B193)

  /** Language confusion matrix over B3's verified near-dup pairs: pair
    * counts per unordered (lang, lang) combination, with integer-snapped
    * similarity mass. The off-diagonal rows are the cross-lingual
    * contamination signal — near-identical shingle sets under different
    * language labels mean either mislabeled documents (B76's class) or
    * template/boilerplate duplication crossing language sites; both
    * contaminate a language-balanced training mix silently, because
    * per-language dedup never compares them.
    *
    * Scale shape: pairs as B3 (banded LSH, never all-pairs); two
    * broadcast-sized joins hang lang labels on the pair list; final agg
    * keyed by (lang, lang) — bounded by #languages².
    */
  private def dedupLangPairMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs  = documents(s, dir)
    val pairs = operators.Dedup.minhashPairs(docs, "doc_id", "text", 3, 0.5)
    val langs = docs.select(col("doc_id"), col("lang"))
    pairs
      .join(langs.select(col("doc_id").as("id_a"), col("lang").as("lang_a")), Seq("id_a"))
      .join(langs.select(col("doc_id").as("id_b"), col("lang").as("lang_b")), Seq("id_b"))
      .select(
        least(col("lang_a"), col("lang_b")).as("lang_1"),
        greatest(col("lang_a"), col("lang_b")).as("lang_2"),
        round(col("jaccard") * 1000000).cast("long").as("jac_ppm")
      )
      .groupBy(col("lang_1"), col("lang_2"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("jac_ppm")).as("sum_jac_ppm"),
        max(col("jac_ppm")).as("max_jac_ppm")
      )
  }

  private val dedupLangPairMatrixSql =
    s"""WITH mh AS (${QueriesExt.minhashPairsSql}),
       |lp AS (
       |  SELECT least(da.lang, db.lang) AS lang_1, greatest(da.lang, db.lang) AS lang_2,
       |    CAST(round(mh.jaccard * 1000000) AS BIGINT) AS jac_ppm
       |  FROM mh
       |  JOIN documents da ON da.doc_id = mh.id_a
       |  JOIN documents db ON db.doc_id = mh.id_b)
       |SELECT lang_1, lang_2, count(*) AS n_pairs,
       |  CAST(sum(jac_ppm) AS BIGINT) AS sum_jac_ppm,
       |  max(jac_ppm) AS max_jac_ppm
       |FROM lp GROUP BY 1, 2""".stripMargin

  // --------------------------- dedup rate by length bucket (B194)

  /** Near-dup involvement rate bucketed by document length — the
    * length-bias audit beside B186's by-source one: near-dup removal
    * preferentially hits short template-like documents, silently skewing
    * the corpus length distribution the curriculum was tuned on. Buckets
    * are binary-magnitude (bit length of n_chars), NOT global deciles —
    * an ntile would need a global sort into one partition, while the bit
    * length is a scan-local integer function with the same diagnostic
    * power. Per bucket: docs, docs appearing in ≥1 verified pair, and
    * the involvement rate in ppm.
    *
    * Scale shape: pairs as B3; the member list explodes the (small) pair
    * list, distincts on doc_id, and left-joins the corpus once; final
    * agg keyed by ~40 buckets.
    */
  private def dedupRateByLength(s: SparkSession, dir: String): DataFrame = {
    val docs  = documents(s, dir)
    val pairs = operators.Dedup.minhashPairs(docs, "doc_id", "text", 3, 0.5)
    val members = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
      .withColumn("in_pair", lit(1L))
    docs
      .select(col("doc_id"), expr("length(bin(n_chars))").cast("long").as("len_bucket"))
      .join(members, Seq("doc_id"), "left")
      .groupBy(col("len_bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("in_pair").isNotNull, 1L).otherwise(0L)).as("n_in_pairs")
      )
      .select(
        col("len_bucket"),
        col("n_docs"),
        col("n_in_pairs"),
        expr("CAST(n_in_pairs * 1000000 div n_docs AS BIGINT)").as("rate_ppm")
      )
  }

  private val dedupRateByLengthSql =
    s"""WITH mh AS (${QueriesExt.minhashPairsSql}),
       |members AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT id_a AS doc_id FROM mh UNION ALL SELECT id_b FROM mh)),
       |bucketed AS (
       |  SELECT d.doc_id, CAST(length(bin(d.n_chars)) AS BIGINT) AS len_bucket,
       |    CASE WHEN m.doc_id IS NULL THEN 0 ELSE 1 END AS in_pair
       |  FROM documents d LEFT JOIN members m ON m.doc_id = d.doc_id)
       |SELECT len_bucket, count(*) AS n_docs,
       |  CAST(sum(in_pair) AS BIGINT) AS n_in_pairs,
       |  CAST(sum(in_pair) * 1000000 // count(*) AS BIGINT) AS rate_ppm
       |FROM bucketed GROUP BY 1""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("embed_dim_stats", Seq("B192"), embedDimStats, embedDimStatsSql),
    QuerySpec("dedup_lang_pair_matrix", Seq("B193"), dedupLangPairMatrix, dedupLangPairMatrixSql),
    QuerySpec("dedup_rate_by_length", Seq("B194"), dedupRateByLength, dedupRateByLengthSql)
  )
}
