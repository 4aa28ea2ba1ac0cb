package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Text-analysis operators for an LLM training-data pipeline: tokenization,
  * quality scoring, language ID, fingerprinting (SURVEY.md §2 B5).
  *
  * Everything is a Catalyst expression — `org.apache.spark.sql.functions`
  * plus graft's kernels in `graft.functions`, no UDFs — so each operator
  * is a per-row projection inside one whole-stage-codegen scan and scales
  * linearly with input splits (no shuffle except the final aggregations
  * callers add). A projection evaluates an expression that several
  * columns share once (subexpression elimination); a Filter does not, so
  * a predicate pushed into it re-evaluates each reference. That is why
  * the quality and language signals are kernels over ONE tokenization
  * each rather than one regex or token filter per column.
  */
object TextAnalysis {

  /** Whitespace-normalized lowercase text. */
  def normalize(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column =
    split(normalize(c), " ")


  /** Word k-gram shingles (joined with a single space); short docs fall back
    * to the whole normalized text (= all tokens re-joined). Implemented as
    * a native expression (functions.WordKGrams) — the composable
    * transform/slice/array_join form costs an interpreted lambda per
    * shingle and dominated the dedup pipeline.
    */
  def wordShingles(c: Column, k: Int): Column =
    graft.functions.VectorExpressions.wordKGrams(tokens(c), k)

  /** Per-document token/char statistics appended as columns:
    * n_tokens, n_chars_norm, avg_token_len, n_distinct_tokens.
    */
  def withTokenStats(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    df.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_chars_norm", length(normalize(col(textCol))).cast("long"))
      .withColumn("n_distinct_tokens", size(array_distinct(toks)).cast("long"))
      .withColumn(
        "avg_token_len",
        round(
          (length(normalize(col(textCol))) - (size(toks) - 1)).cast("double") / size(toks),
          6
        )
      )
  }

  /** Heuristic quality signals (length, punctuation density, stopword ratio,
    * uppercase ratio) plus a composite 0..1 score. All ratios are exact
    * integer-count divisions so an independent SQL oracle reproduces them
    * bit-for-bit (after round()).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Appends the fields of one `TextQuality` kernel over the text's
    * tokens; each equals its composed SQL form, which the oracles replay:
    *   punct_ratio    = round(#[.,;:!?] / greatest(length(t), 1), 6)
    *   upper_ratio    = round(#[A-Z] / greatest(length(t), 1), 6)
    *   stopword_ratio = round(#stopword tokens / greatest(size(tokens), 1), 6)
    *   len_score      = 1.0 if length(normalize(t)) is in [100, 5000], else 0.0
    *   quality_score  = round((len_score + least(stopword_ratio * 4, 1.0)
    *                      + (1.0 - least(punct_ratio * 10, 1.0))) / 3.0, 6)
    */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val q = graft.functions.TextExpressions.textQuality(tokens(col(textCol)), col(textCol), Stopwords)
    graft.functions.TextQuality.Fields.foldLeft(df)((d, f) => d.withColumn(f, q.getField(f)))
  }

  /** N-gram-frequency language ID heuristic: votes by language-marker tokens,
    * ties broken by fixed language order. Deterministic and oracle-checkable;
    * marker lists are tiny and act like a compiled-in model.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "die", "ist"),
    "fr" -> Seq("le", "et", "les", "est"),
    "es" -> Seq("el", "y", "los", "es"),
    "zh" -> Seq("的", "是", "了", "在")
  )

  /** Appends lang_pred: a `LangPred` kernel over the text's tokens. Votes
    * are marker-token counts per language; the first-match-wins chain (L
    * wins if its votes are >= every later language's) mirrors a plain SQL
    * CASE, so an oracle reproduces ties identically.
    */
  def withLangId(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("lang_pred", graft.functions.TextExpressions.langPred(tokens(col(textCol)), LangMarkers))

  /** Canonicalize a URL for dedup: lowercase the scheme+host, strip a
    * leading `www.`, drop the fragment, and remove tracking query params
    * (`utm_*`, `ref`) while preserving the rest of the query string in
    * order. Pure string/regex column arithmetic — codegen-friendly, and
    * replayable by any engine with the same regex semantics.
    */
  def canonicalizeUrl(u: Column): Column = {
    val base   = regexp_extract(u, "^([^?#]*)", 1)
    val qs     = regexp_extract(u, "\\?([^#]*)", 1)
    val kept   = filter(split(qs, "&"), p => !p.rlike("^(utm_[a-z]+|ref)=") && p =!= lit(""))
    val canonQ = array_join(kept, "&")
    val prefix = regexp_replace(
      lower(regexp_extract(base, "^(https?://[^/]+)", 1)),
      "://www\\.",
      "://"
    )
    val path = regexp_replace(base, "^https?://[^/]+", "")
    concat(prefix, path, when(canonQ =!= "", concat(lit("?"), canonQ)).otherwise(lit("")))
  }

  /** 60-bit content fingerprint of the normalized text (md5-based — see
    * Hashing). Two docs with equal normalized text share a fingerprint.
    */
  def fingerprint(c: Column): Column = Hashing.h60(normalize(c))

  // ------------------------------------------------------------ PII scrub

  /** PII patterns a training-data pipeline redacts before any shard ships.
    * Deliberately restricted to syntax both Java regex and RE2 support
    * (no lookaround, no backreferences) so the same pattern string drives
    * the engine and any RE2-based auditor bit-identically.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?\\d{3}-\\d{4}-\\d{2,4}"
  val Ipv4Pattern  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Count matches of `pattern` in `c` — codegen regexp, no UDF. */
  def piiCount(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0))).cast("long")

  /** Redact every occurrence of the three PII shapes, innermost first so a
    * phone inside an email-like token cannot resurface after the outer
    * replacement. Pure regexp_replace chain: scan-fused, linear, and the
    * replacement tokens are greppable in downstream audits.
    */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPattern, "[EMAIL]"),
        PhonePattern,
        "[PHONE]"
      ),
      Ipv4Pattern,
      "[IP]"
    )

  // -------------------------------------------------- boilerplate removal

  /** C4-style boilerplate scoring: a word k-gram occurring in at least
    * `minDocFreq` DISTINCT documents is boilerplate (navigation chrome,
    * licence footers, templated text); each document is scored by the
    * fraction of its distinct k-grams that are boilerplate.
    *
    * Scale shape: one explode of per-doc DISTINCT shingles (no dup
    * inflation), one hash-agg for document frequency, one shuffle join
    * back on the shingle key, one final per-doc agg — all partitioned by
    * hash keys, nothing all-pairs, nothing collected. The doc-frequency
    * table is NOT broadcast: at 100 TB the distinct-shingle table is
    * itself huge, so the join must shuffle both sides on the shingle key.
    *
    * Returns (doc_id, n_shingles, n_boiler, boiler_frac).
    */
  def boilerplateScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int,
      minDocFreq: Long
  ): DataFrame = {
    val ex = docs
      .select(col(idCol).as("doc_id"), array_distinct(wordShingles(col(textCol), shingleWords)).as("sset"))
      .select(col("doc_id"), explode(col("sset")).as("shingle"))
    val boiler = ex
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocFreq)
      .select(col("shingle"), lit(1L).as("is_boiler"))
    ex.join(boiler, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        count(col("is_boiler")).as("n_boiler")
      )
      .select(
        col("doc_id"),
        col("n_shingles"),
        col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_shingles"), 6).as("boiler_frac")
      )
  }
}
