package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.Parity.{normSql, shinglesSql}
import graft.functions.Hashing
import graft.operators.{Similarity, TextAnalysis}

/** Tenth query batch — four more training-data curation operators
  * (SURVEY.md §2 B3/B4/B5/B16 extensions):
  *
  *  - PII redaction: count + scrub emails/phones/IPs with regex syntax
  *    both Java regex and RE2 accept, so engine and auditor agree
  *    byte-for-byte (the corpus has no organic PII, so the query stages
  *    deterministic PII from doc_id first — the operator is generic);
  *  - C4-style boilerplate scoring: fraction of a document's distinct
  *    word 3-grams occurring in >= 5 documents;
  *  - per-domain quota sampling: keep the 15 md5-first documents of each
  *    source via the bounded-heap top-k aggregate (k·groups rows cross
  *    the shuffle — no per-group full sort, skew-immune);
  *  - random-hyperplane LSH (Charikar sign sketches): banded candidate
  *    generation over embeddings + exact cosine verification.
  *
  * Same parity rules as SparkEntry (round 6 ratios, BIGINT counts, md5
  * hash ordering, 'g' flag on DuckDB regexp_replace to match Spark's
  * replace-all default).
  */
object QueriesExt10 {

  // ------------------------------------------------------------ PII scrub

  /** Deterministic PII staged from doc_id, appended to the text. */
  private def stagedPii(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
        lit(" tel +555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit("-99"),
        lit(" host 10."), (col("doc_id") % 256).cast("string"), lit(".0.1")
      ).as("staged")
    )

  private def textPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val scrubbed = TextAnalysis.scrubPii(col("staged"))
    stagedPii(documents(s, dir)).select(
      col("doc_id"),
      TextAnalysis.piiCount(col("staged"), TextAnalysis.EmailPattern).as("n_emails"),
      TextAnalysis.piiCount(col("staged"), TextAnalysis.PhonePattern).as("n_phones"),
      TextAnalysis.piiCount(col("staged"), TextAnalysis.Ipv4Pattern).as("n_ips"),
      length(scrubbed).cast("long").as("scrub_len"),
      md5(scrubbed).as("scrub_hash")
    )
  }

  private val textPiiScrubSql = {
    // DuckDB single-quoted strings keep backslashes literal, so the Java
    // pattern strings embed unchanged (they contain no single quotes)
    val email = TextAnalysis.EmailPattern
    val phone = TextAnalysis.PhonePattern
    val ip    = TextAnalysis.Ipv4Pattern
    s"""WITH staged AS (SELECT doc_id,
       |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |       || ' tel +555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-99'
       |       || ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS staged
       |  FROM documents),
       |s2 AS (SELECT doc_id, staged,
       |  regexp_replace(regexp_replace(regexp_replace(staged,
       |    '$email', '[EMAIL]', 'g'),
       |    '$phone', '[PHONE]', 'g'),
       |    '$ip', '[IP]', 'g') AS scrubbed
       |  FROM staged)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(staged, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(staged, '$phone')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(staged, '$ip')) AS BIGINT) AS n_ips,
       |  CAST(length(scrubbed) AS BIGINT) AS scrub_len,
       |  md5(scrubbed) AS scrub_hash
       |FROM s2""".stripMargin
  }

  // -------------------------------------------------- boilerplate scoring

  private def textBoilerplate(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.boilerplateScore(documents(s, dir), "doc_id", "text", shingleWords = 3, minDocFreq = 5)

  private val textBoilerplateSql =
    s"""WITH t AS (SELECT doc_id, $normSql AS norm, string_split($normSql,' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, list_distinct(${shinglesSql(3)}) AS sset FROM t),
       |ex AS (SELECT doc_id, unnest(sset) AS shingle FROM sh),
       |bl AS (SELECT shingle FROM (SELECT shingle, count(*) AS df FROM ex GROUP BY 1) WHERE df >= 5),
       |m AS (SELECT e.doc_id, count(*) AS n_shingles, count(bl.shingle) AS n_boiler
       |      FROM ex e LEFT JOIN bl ON e.shingle = bl.shingle GROUP BY 1)
       |SELECT doc_id, n_shingles, n_boiler,
       |  round(n_boiler::DOUBLE / n_shingles, 6) AS boiler_frac
       |FROM m""".stripMargin

  // --------------------------------------------------- per-domain quotas

  /** Quota sampling: at most 15 documents per source, picked by md5 hash
    * order (reproducible across engines/runs). Uses the bounded-heap
    * TopKBy aggregate, so only k rows per source survive the partial
    * aggregation — a skewed mega-domain never materializes a full
    * per-group sort the way a row_number window would.
    */
  private def qDomainQuota(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(
        col("source"),
        col("doc_id"),
        // TopKBy ranks by score DESC; negate the 32-bit hash (exact in a
        // double) to get hash-ascending picks with id-asc tie-break
        negate(Hashing.h32(col("doc_id").cast("string")).cast("double")).as("neg_hash")
      )
      .groupBy(col("source"))
      .agg(graft.functions.TopKBy.topKByLong(col("neg_hash"), col("doc_id"), 15).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(
        col("source"),
        (col("pos") + 1).cast("long").as("pick_rank"),
        col("col.id").as("doc_id")
      )

  private val qDomainQuotaSql =
    """WITH h AS (SELECT source, doc_id,
      |    CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) AS hv
      |  FROM documents)
      |SELECT source, CAST(rn AS BIGINT) AS pick_rank, doc_id FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
      |  FROM h)
      |WHERE rn <= 15""".stripMargin

  // ------------------------------------------- random-hyperplane LSH (B4)

  private def simRpLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    Similarity.randomHyperplanePairs(
      emb, "vec_id", "embedding", tau = 0.3,
      bitsPerBand = Similarity.bitsFor(emb.count())
    )
  }

  /** Shared RP-LSH candidate-pair oracle fragment (CTEs through `pairs`):
    * replays `Similarity.randomHyperplanePairs` with the SAME count-derived
    * bits-per-band (`bitsFor`: clamp(ceil(log2(n/64)), 8, 16)) and the same
    * md5-derived planes at `band * MaxBitsPerBand + bit`, so query and
    * oracle agree on geometry at EVERY scale factor, not just the gate's.
    * All 16 per-band bit terms are emitted, each gated on `bit < nb`.
    */
  private[graft] def rpCandPairsSql(tau: String): String = {
    val maxBits = Similarity.MaxBitsPerBand
    val planes  = Similarity.signPlanes(2 * maxBits, 64)
    def arr(row: Array[Double]) =
      row.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    val buckets = (0 until 2).map { bd =>
      (0 until maxBits).map { b =>
        s"(CASE WHEN $b < nb AND list_dot_product(e, ${arr(planes(bd * maxBits + b))}::DOUBLE[]) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
    }
    s"""nn AS (SELECT count(*) AS cnt FROM embeddings),
       |bits AS (SELECT LEAST(16, GREATEST(8, CAST(ceil(log2(cnt / 64.0)) AS INT))) AS nb FROM nn),
       |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |b AS (SELECT vec_id, ${buckets.zipWithIndex.map { case (ex, i) => s"($ex) AS b$i" }.mkString(", ")}, e FROM v, bits),
       |x AS (SELECT vec_id, unnest([b0, b1]) AS bucket, unnest([0, 1]) AS band FROM b),
       |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
       |         FROM x JOIN x AS y ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |pairs AS (SELECT id_a, id_b, cosine FROM (
       |    SELECT c.id_a, c.id_b, round(list_cosine_similarity(a.e, z.e), 6) AS cosine
       |    FROM cand c JOIN v a ON c.id_a = a.vec_id JOIN v z ON c.id_b = z.vec_id)
       |  WHERE cosine >= $tau)""".stripMargin
  }

  private val simRpLshSql =
    s"""WITH ${rpCandPairsSql("0.3")}
       |SELECT id_a, id_b, cosine FROM pairs""".stripMargin

  // ------------------------------------------- char-bigram LM score (B5)

  /** CCNet-style language-model quality score, self-trained: a char-bigram
    * model from the corpus itself (p(c₂|c₁) = cnt(c₁c₂)/cnt(c₁·)), each
    * document scored by its mean bigram log-probability. Well-formed text
    * scores high; gibberish scores low — the classic perplexity filter
    * shape with the KenLM model replaced by an in-query aggregation.
    *
    * Scale shape: the model IS the char-bigram vocabulary (≤ |charset|² —
    * bounded, tiny), so the scoring join broadcasts the model while the
    * corpus streams; log-probs are rounded to 6 dp and summed in exact
    * DECIMAL so the per-doc mean is partition-order independent (the
    * Spark/DuckDB double-sum parity rule).
    */
  private def textLmScore(s: SparkSession, dir: String): DataFrame = {
    // bigram explode over the one-pass CharNGrams array (r15): the
    // previous Generate(sequence)+substr form was codegen but each
    // substr re-scans the UTF-8 buffer from the start to locate
    // position i — O(len²) byte scans per doc; CharNGrams slices every
    // gram from precomputed byte offsets in one O(len) pass (an r7-era
    // array-of-bigrams attempt was slow for a different reason: it went
    // through the INTERPRETED higher-order transform — CharNGrams is a
    // codegen expression). The when/otherwise keeps the short-text
    // whole-string fallback the oracle's CASE expresses (len < 2 ⇒ one
    // row carrying the whole string, exactly what substr's clamp did).
    val bg = documents(s, dir)
      .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("nrm"))
      .select(
        col("doc_id"),
        explode(
          when(length(col("nrm")) >= 2, graft.functions.CharNGrams.charNGrams(col("nrm"), 2))
            .otherwise(array(col("nrm")))).as("b"))
    // Per-(doc, bigram) counts as the SHARED base consumed by both the
    // model aggregate and the scoring join, localCheckpointed so the
    // 5M-row explode materializes exactly once (the previous shape
    // aggregated the raw explode separately per consumer — the dominant
    // stage ran twice, 5.3 s in the r7 closing snapshot; measured here:
    // 3.7 s relying on exchange reuse, 2.9 s checkpointed). Same bounded
    // localCheckpoint pattern as B13's top-20 lineage cut; Bench's
    // per-query storage cleanup releases the blocks.
    val counts = bg.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt")).localCheckpoint()
    val m2     = counts.groupBy(col("b")).agg(sum(col("cnt")).as("c2"))
    // c1 (first-char totals) as a window over the vocab-bounded m2 rows —
    // the window runs on <= |charset|^2 rows, partitioned
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(substring(col("b"), 1, 1))
    val lp = m2
      .withColumn("c1", sum(col("c2")).over(wc))
      .select(
        col("b"),
        // log-prob in exact integer micros: the per-row score combine
        // below becomes a codegen'd long multiply instead of a
        // DECIMAL(18,6) multiply that allocates BigDecimals (q1's lesson);
        // round-to-6-then-scale keeps the oracle's rounded-logp semantics
        // outer round(…, 0): ×1e6 can land at ….999999 in binary — a bare
        // long cast would truncate one micro off
        round(round(log(col("c2").cast("double")) - log(col("c1").cast("double")), 6) * 1000000L, 0)
          .cast("long").as("logp_micro")
      )
    counts.join(broadcast(lp), "b")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_bigrams"),
        // DECIMAL(38,0) sum of long micro products: per-value compact,
        // immune to long overflow at any corpus size
        sum((col("cnt") * col("logp_micro")).cast("decimal(38,0)")).as("slp_micro")
      )
      .select(
        col("doc_id"),
        col("n_bigrams"),
        round((col("slp_micro") / lit(1000000L)).cast("double") / col("n_bigrams"), 6).as("avg_logp")
      )
  }

  private val textLmScoreSql =
    s"""WITH t AS (SELECT doc_id, $normSql AS norm FROM documents),
       |bg AS (SELECT doc_id, unnest(CASE WHEN length(norm) >= 2
       |         THEN [substr(norm, i, 2) for i in range(1, length(norm))]
       |         ELSE [norm] END) AS b FROM t),
       |m2 AS (SELECT b, count(*) AS c2 FROM bg GROUP BY 1),
       |m1 AS (SELECT substr(b,1,1) AS c, CAST(sum(c2) AS BIGINT) AS c1 FROM m2 GROUP BY 1),
       |lp AS (SELECT b, round(ln(c2::DOUBLE) - ln(c1::DOUBLE), 6) AS logp
       |       FROM m2 JOIN m1 ON substr(m2.b,1,1) = m1.c),
       |sc AS (SELECT doc_id, count(*) AS n_bigrams, sum(CAST(logp AS DECIMAL(18,6))) AS slp
       |       FROM bg JOIN lp USING(b) GROUP BY 1)
       |SELECT doc_id, n_bigrams, round(slp::DOUBLE / n_bigrams, 6) AS avg_logp FROM sc""".stripMargin

  // ------------------------------------------------ event anomalies (B7)

  /** Per-hour event-count anomalies: for each event_type, hours whose
    * count deviates from the type's mean by ≥ 2 population standard
    * deviations. The stats come from exact integer sums (n, Σx, Σx²) via
    * the closed formula — Welford-style streaming aggregates are
    * partition-order dependent and can't hash-match an oracle. The stats
    * table is one row per event_type: broadcast.
    */
  private def eventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .select(col("event_type"), expr("unix_millis(ts) div 3600000").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("cnt"))
    val stats = hourly
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_hours"),
        sum(col("cnt")).as("s1"),
        sum(col("cnt") * col("cnt")).as("s2")
      )
    hourly
      .join(broadcast(stats), "event_type")
      .select(
        col("event_type"),
        (col("hour") * 3600000).as("hour_ms"),
        col("cnt"),
        when(col("n_hours") * col("s2") === col("s1") * col("s1"), lit(0.0))
          .otherwise(
            round(
              (col("cnt").cast("double") - col("s1").cast("double") / col("n_hours")) /
                (sqrt((col("n_hours") * col("s2") - col("s1") * col("s1")).cast("double")) / col("n_hours")),
              6
            )
          )
          .as("z_score")
      )
      .withColumn("is_anomaly", abs(col("z_score")) >= 2.0)
  }

  private val eventsAnomalySql =
    """WITH hourly AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hour, count(*) AS cnt
      |                FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, count(*) AS n_hours, CAST(sum(cnt) AS BIGINT) AS s1,
      |              CAST(sum(cnt*cnt) AS BIGINT) AS s2 FROM hourly GROUP BY 1),
      |z AS (SELECT h.event_type, h.hour * 3600000 AS hour_ms, h.cnt,
      |        CASE WHEN n_hours * s2 = s1 * s1 THEN 0.0
      |             ELSE round((h.cnt::DOUBLE - s1::DOUBLE / n_hours) /
      |                        (sqrt((n_hours * s2 - s1 * s1)::DOUBLE) / n_hours), 6) END AS z_score
      |      FROM hourly h JOIN st USING (event_type))
      |SELECT event_type, hour_ms, cnt, z_score, abs(z_score) >= 2.0 AS is_anomaly FROM z""".stripMargin

  // ---------------------------------------------------------- registration

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_pii_scrub", Seq("B18"), textPiiScrub, textPiiScrubSql),
    QuerySpec("text_boilerplate", Seq("B19"), textBoilerplate, textBoilerplateSql),
    QuerySpec("q_domain_quota", Seq("B20"), qDomainQuota, qDomainQuotaSql),
    QuerySpec("sim_rp_lsh", Seq("B21"), simRpLsh, simRpLshSql),
    QuerySpec("text_lm_score", Seq("B22"), textLmScore, textLmScoreSql),
    QuerySpec("events_anomaly", Seq("B23"), eventsAnomaly, eventsAnomalySql)
  )
}
