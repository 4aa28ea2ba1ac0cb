package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 30: cross-modal dedup agreement (do the
  * shingle near-dups and the embedding space tell the same story?) and
  * the per-language source-mix entropy that watches corpus diversity.
  */
object QueriesExt36 {

  // --------------------------- cross-modal pair agreement (B195)

  /** Every B3-verified shingle near-dup pair scored AGAIN in embedding
    * space: (id_a, id_b, jaccard, cosine). The two signals should agree —
    * a high-jaccard/low-cosine row is a template pair (same boilerplate,
    * different content: shingles collide, semantics differ) and a
    * low-jaccard tail with high cosine is the paraphrase class shingle
    * dedup misses. This is the calibration table for choosing which
    * detector gates which corpus slice, and fixture doc_id ↔ vec_id align
    * 1:1 so the join is exact.
    *
    * Scale shape: pairs as B3 (banded, never all-pairs); two hash joins
    * hang embeddings on the SMALL pair list (the embedding table is
    * shuffled only on the pair-member semi-joined side); cosine is one
    * fused expression per surviving row.
    */
  private def dedupCrossModalAgree(s: SparkSession, dir: String): DataFrame = {
    val docs  = documents(s, dir)
    val pairs = operators.Dedup.minhashPairs(docs, "doc_id", "text", 3, 0.5)
    val emb = embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    pairs
      .join(emb.select(col("vec_id").as("id_a"), col("e").as("e_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("e").as("e_b")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        col("jaccard"),
        round(operators.Similarity.cosine(col("e_a"), col("e_b")), 6).as("cosine")
      )
  }

  private val dedupCrossModalAgreeSql =
    s"""WITH mh AS (${QueriesExt.minhashPairsSql})
       |SELECT mh.id_a, mh.id_b, mh.jaccard,
       |  round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cosine
       |FROM mh
       |JOIN embeddings ea ON ea.vec_id = mh.id_a
       |JOIN embeddings eb ON eb.vec_id = mh.id_b""".stripMargin

  // --------------------------- per-language source entropy (B196)

  /** Source-mix Shannon entropy per language — the one-number diversity
    * gauge a corpus curator watches per release: entropy collapse in a
    * language means one source is taking it over (crawl breakage or a
    * quota bug), long before the mixture tables (B27/B176) are read.
    * Uses the B184 micro-nat integer snap (H = ln t − Σ c·ln c / t over
    * integer counts) so the aggregation is plan-order exact.
    *
    * Scale shape: one (lang, source) map-side-combined count, then a
    * langs-sized rollup — both bounded key spaces.
    */
  private def corpusSourceEntropy(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(
        sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(col("c") * expr("CAST(round(round(ln(CAST(c AS DOUBLE)), 6) * 1000000, 0) AS BIGINT)")).as("s_micro")
      )
      .select(
        col("lang"),
        col("n_docs"),
        col("n_sources"),
        (expr("CAST(round(round(ln(CAST(n_docs AS DOUBLE)), 6) * 1000000, 0) AS BIGINT)")
          - expr("s_micro div n_docs")).as("entropy_micronats")
      )

  private val corpusSourceEntropySql =
    """WITH cnt AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY 1, 2),
      |agg AS (
      |  SELECT lang,
      |    CAST(sum(c) AS BIGINT) AS n_docs,
      |    count(*) AS n_sources,
      |    CAST(sum(c * CAST(round(round(ln(c::DOUBLE), 6) * 1000000) AS BIGINT)) AS BIGINT) AS s_micro
      |  FROM cnt GROUP BY 1)
      |SELECT lang, n_docs, n_sources,
      |  CAST(round(round(ln(n_docs::DOUBLE), 6) * 1000000) AS BIGINT) - s_micro // n_docs
      |    AS entropy_micronats
      |FROM agg""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_cross_modal_agree", Seq("B195"), dedupCrossModalAgree, dedupCrossModalAgreeSql),
    QuerySpec("corpus_source_entropy", Seq("B196"), corpusSourceEntropy, corpusSourceEntropySql)
  )
}
