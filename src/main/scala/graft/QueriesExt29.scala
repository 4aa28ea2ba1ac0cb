package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.normSql
import graft.operators.TextAnalysis

/** Round-8 additions, batch 23: tokenizer fertility by language and the
  * small-file compaction plan — a tokenizer-budget readout and a layout
  * advisor.
  */
object QueriesExt29 {

  // --------------------------- tokenizer fertility (B172)

  /** Tokens per 100 characters by PREDICTED language — the fertility
    * number that converts a byte budget into a token budget per language
    * (CJK text tokenizes at a very different rate than English; a mixed
    * corpus priced at one global rate misestimates every per-language
    * quota). Composes B5's n-gram language id with the token counter:
    * per lang_pred — doc count, token and char totals, fertility ppm
    * (1e6 · tokens div chars, integer-exact).
    *
    * Scale shape: one scan computes langid votes + token counts together
    * (scan-fused projections); the rollup is languages-sized.
    */
  private def textTokenFertility(s: SparkSession, dir: String): DataFrame =
    TextAnalysis
      .withLangId(documents(s, dir), "text")
      .select(
        col("lang_pred"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
        length(TextAnalysis.normalize(col("text"))).cast("long").as("n_chars")
      )
      .groupBy(col("lang_pred"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars")
      )
      .withColumn(
        "fertility_ppm",
        expr("CAST(total_tokens * 1000000 div total_chars AS BIGINT)")
      )

  private val textTokenFertilitySql =
    s"""WITH base AS (
       |  SELECT doc_id, $normSql AS norm, string_split($normSql,' ') AS toks FROM documents),
       |v AS (SELECT doc_id, norm, toks,
       |  len(list_filter(toks, x -> list_contains(['the','and','of','is'], x))) AS v_en,
       |  len(list_filter(toks, x -> list_contains(['der','und','die','ist'], x))) AS v_de,
       |  len(list_filter(toks, x -> list_contains(['le','et','les','est'], x))) AS v_fr,
       |  len(list_filter(toks, x -> list_contains(['el','y','los','es'], x))) AS v_es,
       |  len(list_filter(toks, x -> list_contains(['的','是','了','在'], x))) AS v_zh
       |FROM base),
       |p AS (SELECT CASE
       |    WHEN v_en >= greatest(v_de,v_fr,v_es,v_zh) THEN 'en'
       |    WHEN v_de >= greatest(v_fr,v_es,v_zh) THEN 'de'
       |    WHEN v_fr >= greatest(v_es,v_zh) THEN 'fr'
       |    WHEN v_es >= v_zh THEN 'es'
       |    ELSE 'zh' END AS lang_pred,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  CAST(length(norm) AS BIGINT) AS n_chars
       |FROM v)
       |SELECT lang_pred, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  CAST(sum(n_tokens) * 1000000 // sum(n_chars) AS BIGINT) AS fertility_ppm
       |FROM p GROUP BY 1""".stripMargin

  // --------------------------- compaction plan (B173)

  /** Small-file compaction advisor per source: UTF-8 corpus bytes packed
    * into 64 KiB target files — file count, docs per file, and mean file
    * fill ppm. The layout readout behind the Compaction sink (B15): a
    * source whose plan says "400 docs per file" is the small-file problem
    * a scheduled compaction run fixes. Pure integer arithmetic.
    *
    * Scale shape: one scan + sources-sized rollup.
    */
  private def qCompactionPlan(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("source"), length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("total_bytes"))
      .select(
        col("source"),
        col("n_docs"),
        col("total_bytes"),
        expr("CAST((total_bytes + 65535) div 65536 AS BIGINT)").as("n_files"),
        expr("CAST(n_docs div ((total_bytes + 65535) div 65536) AS BIGINT)").as("docs_per_file"),
        expr("CAST(total_bytes * 1000000 div (((total_bytes + 65535) div 65536) * 65536) AS BIGINT)")
          .as("fill_ppm")
      )

  private val qCompactionPlanSql =
    """WITH p AS (
      |  SELECT source, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents),
      |agg AS (
      |  SELECT source, count(*) AS n_docs, CAST(sum(n_bytes) AS BIGINT) AS total_bytes
      |  FROM p GROUP BY 1)
      |SELECT source, n_docs, total_bytes,
      |  CAST((total_bytes + 65535) // 65536 AS BIGINT) AS n_files,
      |  CAST(n_docs // ((total_bytes + 65535) // 65536) AS BIGINT) AS docs_per_file,
      |  CAST(total_bytes * 1000000 // (((total_bytes + 65535) // 65536) * 65536) AS BIGINT) AS fill_ppm
      |FROM agg""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_token_fertility", Seq("B172"), textTokenFertility, textTokenFertilitySql),
    QuerySpec("q_compaction_plan", Seq("B173"), qCompactionPlan, qCompactionPlanSql)
  )
}
