package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 60: code-vs-prose detection — the one
  * document-class gate the text-quality family (B5 langid, B22 LM
  * score, B184 entropy) still lacked; an LLM data pipeline routes code
  * to a different tokenizer/mixture bucket than prose, and misrouted
  * code is a known quality sink.
  */
object QueriesExt67 {

  // --------------------------- code-vs-prose gate (B254)

  /** Heuristic code detector (`text_code_detect`): four scan-fused
    * integer signals per document — code-symbol density
    * (`{}();=<>[]` chars per 10⁶), camelCase token rate, code-keyword
    * hits (whole-word `def/class/return/import/function/var/let/const/
    * if/else/for/while`), and digit density — combined into an integer
    * milli score (fixed weights, stated here: 2·sym + 1·camel +
    * 100·kw_per_token + 0.5·digit, all in ppm space div 1000) with
    * `is_code` at score ≥ 150; aggregated per source: docs, flagged
    * docs, rate, and the mean score. The raw fixture is pure lowercase
    * word soup (all four signals measure exactly 0 corpus-wide), so the
    * gate's separation is certified against PLANTED truth (B248's
    * staging discipline): every 50th doc id also contributes a
    * deterministic synthetic code document under `source =
    * 'staged_code'` — the readout must flag 100% of that source and 0%
    * of every prose source, and does.
    *
    * Scale shape: every signal is a codegen'd regexp count on the scan
    * (no explode — `regexp_extract_all` length only), one
    * map-side-combined per-source agg. Nothing leaves the scan but
    * source-keyed integers; staging is a scan-side union.
    */
  private def textCodeDetect(s: SparkSession, dir: String): DataFrame = {
    def cnt(pat: String) = expr(s"size(regexp_extract_all(text, '$pat', 0))")
    val staged = documents(s, dir).select(col("source"), col("text"))
      .unionByName(
        documents(s, dir).where(col("doc_id") % 50 === 0)
          .select(lit("staged_code").as("source"),
            concat(lit("def f"), col("doc_id"), lit("(x): return x + "), col("doc_id"),
              lit("; count = 0; for i in range(10): count = count + i;")).as("text")))
    val scored = staged
      .select(
        col("source"),
        greatest(length(col("text")), lit(1)).as("n"),
        cnt("[{}();=<>\\\\[\\\\]]").as("sym"),
        cnt("[a-z][A-Z]").as("camel"),
        cnt("\\\\b(def|class|return|import|function|var|let|const|if|else|for|while)\\\\b").as("kw"),
        cnt("[0-9]").as("digit"),
        greatest(expr("size(regexp_extract_all(text, '\\\\S+', 0))"), lit(1)).as("toks"))
      .select(
        col("source"),
        expr("CAST((2 * (sym * 1000000 div n) + camel * 1000000 div toks " +
          "+ 100 * (kw * 1000000 div toks) + (digit * 1000000 div n) div 2) div 1000 AS BIGINT)")
          .as("score_milli"))
      .select(col("source"), col("score_milli"),
        when(col("score_milli") >= 150, 1L).otherwise(0L).as("is_code"))
    scored
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("is_code")).as("n_code"),
        expr("sum(is_code) * 1000000 div count(1)").as("code_ppm"),
        expr("sum(score_milli) div count(1)").as("mean_score_milli"))
  }

  private val textCodeDetectSql = {
    def cnt(pat: String) = s"len(regexp_extract_all(text, '$pat'))"
    s"""WITH st AS (
       |  SELECT source, text FROM documents
       |  UNION ALL
       |  SELECT 'staged_code' AS source,
       |    'def f' || CAST(doc_id AS VARCHAR) || '(x): return x + ' || CAST(doc_id AS VARCHAR)
       |      || '; count = 0; for i in range(10): count = count + i;' AS text
       |  FROM documents WHERE doc_id % 50 = 0),
       |sig AS (
       |  SELECT source,
       |    greatest(len(text), 1) AS n,
       |    ${cnt("[{}();=<>\\[\\]]")} AS sym,
       |    ${cnt("[a-z][A-Z]")} AS camel,
       |    ${cnt("\\b(def|class|return|import|function|var|let|const|if|else|for|while)\\b")} AS kw,
       |    ${cnt("[0-9]")} AS digit,
       |    greatest(len(regexp_extract_all(text, '\\S+')), 1) AS toks
       |  FROM st),
       |scored AS (
       |  SELECT source,
       |    CAST((2 * (sym * 1000000 // n) + camel * 1000000 // toks
       |      + 100 * (kw * 1000000 // toks) + (digit * 1000000 // n) // 2) // 1000 AS BIGINT)
       |      AS score_milli
       |  FROM sig),
       |flagged AS (
       |  SELECT source, score_milli,
       |    CASE WHEN score_milli >= 150 THEN 1 ELSE 0 END AS is_code
       |  FROM scored)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(is_code) AS BIGINT) AS n_code,
       |  CAST(sum(is_code) * 1000000 // count(*) AS BIGINT) AS code_ppm,
       |  CAST(sum(score_milli) // count(*) AS BIGINT) AS mean_score_milli
       |FROM flagged GROUP BY 1""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_code_detect", Seq("B254"), textCodeDetect, textCodeDetectSql)
  )
}
