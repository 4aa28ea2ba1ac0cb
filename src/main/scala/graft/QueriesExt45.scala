package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 38: deterministic frequent items
  * (Misra–Gries, the no-hash dual of B208's CMS), robust trend
  * estimation (Theil–Sen), content-defined chunk dedup (the
  * block-granularity layer between B28's line dedup and whole-doc
  * hashing), and truncated-embedding recall (the "can we store a
  * quarter of the vector?" certification an ANN storage budget needs).
  */
object QueriesExt45 {

  // --------------------------- Misra–Gries certified frequent items (B214)

  /** Frequent event types by a k=8-counter Misra–Gries summary
    * (`functions/MisraGries.scala`, a mergeable TypedImperativeAggregate)
    * CERTIFIED against exact counts: every type whose exact count
    * exceeds n/(k+1) must appear in the summary (`in_summary`), and its
    * kept estimate must sit in [exact − n/(k+1), exact] (`bound_ok`) —
    * both are THEOREMS of the sketch, so both flags are deterministically
    * 1 regardless of partition/merge order even though the raw counter
    * values below the threshold are order-dependent (which is why the
    * estimates themselves are not emitted). The oracle recomputes the
    * exact side and the threshold independently and expects the flags.
    *
    * Scale shape: the sketch side moves k counters per partition — a
    * bounded map-side buffer mergeable at any tree depth (Agarwal et al.,
    * PODS'12) — while the exact side (a full per-type count) exists only
    * for certification; at 100 TB you ship the sketch and drop the exact
    * pass, the certified trade CMS (B208) makes probabilistically and MG
    * makes deterministically.
    */
  private def eventsMgFrequent(s: SparkSession, dir: String): DataFrame = {
    val k  = 8
    val ev = events(s, dir)
    val hid = expr("CAST(conv(substring(md5(event_type), 1, 13), 16, 10) AS BIGINT)")
    val summary = ev
      .select(hid.as("hid"))
      .agg(graft.functions.MisraGries.mgSketchLong(col("hid"), k).as("mg"))
      .select(explode(col("mg")).as("e"))
      .select(col("e.id").as("hid"), col("e.est").as("mg_est"))
    val exact = ev
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("exact_cnt"))
      .withColumn("hid", hid)
    val tot = ev.agg(count(lit(1)).as("n_total"))
    exact
      .crossJoin(broadcast(tot))
      .withColumn("threshold", expr(s"n_total div ${k + 1}"))
      .filter(col("exact_cnt") > col("threshold"))
      .join(broadcast(summary), Seq("hid"), "left")
      .select(
        col("event_type"),
        col("exact_cnt"),
        col("n_total"),
        col("threshold"),
        when(col("mg_est").isNotNull, lit(1L)).otherwise(lit(0L)).as("in_summary"),
        when(
          col("mg_est").isNotNull &&
            col("mg_est") <= col("exact_cnt") &&
            col("mg_est") >= col("exact_cnt") - col("threshold"),
          lit(1L)
        ).otherwise(lit(0L)).as("bound_ok")
      )
  }

  private val eventsMgFrequentSql =
    """WITH tot AS (SELECT count(*) AS n_total FROM events),
      |ex AS (SELECT event_type, count(*) AS exact_cnt FROM events GROUP BY 1)
      |SELECT e.event_type, e.exact_cnt, t.n_total, t.n_total // 9 AS threshold,
      |  CAST(1 AS BIGINT) AS in_summary, CAST(1 AS BIGINT) AS bound_ok
      |FROM ex e, tot t
      |WHERE e.exact_cnt > t.n_total // 9""".stripMargin

  // --------------------------- Theil–Sen robust daily trend (B215)

  /** Per-event-type robust trend: the Theil–Sen estimator (median of all
    * pairwise slopes) over the daily event-count series — the slope a
    * single anomalous day cannot drag, unlike B67's OLS `trend_slope`
    * (breakdown point 29% vs 0%).
    *
    * Integer determinism: slopes are computed as
    * `(Δcount + OFFSET·Δday) · 1e6 div Δday − OFFSET·1e6` with
    * OFFSET = 10^7 — the shift keeps the numerator positive so integral
    * division truncates identically in Spark (`div`, toward zero) and
    * DuckDB (`//`, floor); on non-negative operands the two agree. The
    * median is the ranked element at `(n+1) div 2` ordered by the shifted
    * quotient — a deterministic multiset statistic.
    *
    * Scale shape: the expensive-looking O(days²) pair join runs on the
    * PRE-AGGREGATED daily series — types × days rows, bounded by the
    * calendar, never by event volume. At 100 TB the only full-data pass
    * is the (type, day) map-side count; everything after is metadata-
    * sized. No global sort, no window without a partition key.
    */
  private def qTheilsenTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("d", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      .select(col("event_type"), col("d"), col("c"))
    val a = daily.select(col("event_type"), col("d").as("d1"), col("c").as("c1"))
    val b = daily.select(col("event_type"), col("d").as("d2"), col("c").as("c2"))
    val pairs = a
      .join(b, Seq("event_type"))
      .filter(col("d2") > col("d1"))
      .withColumn("q", expr("(c2 - c1 + 10000000L * (d2 - d1)) * 1000000L div (d2 - d1)"))
    pairs
      .withColumn("rn", row_number().over(Window.partitionBy(col("event_type")).orderBy(col("q"), col("d1"), col("d2"))))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(
        (countDistinct(col("d1")) + lit(1)).as("n_days"),
        max(col("np")).as("n_pairs"),
        (min(when(col("rn") === expr("(np + 1) div 2"), col("q"))) - lit(10000000L * 1000000L))
          .as("theilsen_slope_micro")
      )
  }

  private val qTheilsenTrendSql =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c FROM events GROUP BY 1, 2),
      |dd AS (
      |  SELECT event_type, date_diff('day', DATE '1970-01-01', day) AS d, c FROM daily),
      |pairs AS (
      |  SELECT a.event_type, a.d AS d1, b.d AS d2,
      |    (b.c - a.c + 10000000 * (b.d - a.d)) * 1000000 // (b.d - a.d) AS q
      |  FROM dd a JOIN dd b ON b.event_type = a.event_type AND b.d > a.d),
      |rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY q, d1, d2) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS np
      |  FROM pairs)
      |SELECT event_type,
      |  count(DISTINCT d1) + 1 AS n_days,
      |  CAST(max(np) AS BIGINT) AS n_pairs,
      |  min(CASE WHEN rn = (np + 1) // 2 THEN q END) - 10000000000000 AS theilsen_slope_micro
      |FROM rk GROUP BY 1""".stripMargin

  // --------------------------- content-defined chunk dedup (B216)

  /** Cross-document duplicated-BLOCK profile per source via
    * content-defined chunking: an 8-gram Rabin–Karp rolling fingerprint
    * (base-131 polynomial mod 2³¹−1, `functions/ChunkCuts.scala`) cuts
    * each document where the gram hash ≡ 0 (mod 64) — expected
    * chunk ~64 chars, and crucially the SAME text cuts at the SAME
    * byte offsets regardless of what precedes it (insert a sentence at
    * the top of a page and the chunks after it are unchanged — the
    * property fixed-size blocks lack and the reason dedup backup stores
    * chunk this way). Duplicated chunks are then exact md5 matches
    * across documents — the block-granularity layer between B28's line
    * dedup and whole-document hashing, catching shared boilerplate that
    * is neither a full line nor a full doc.
    *
    * Scale shape: the gram explode is the honest linear class
    * (O(total chars), same band as text_char_entropy); everything after
    * is bounded by chunk count (~chars/64). The chunk-frequency join
    * shuffles on the content hash — the uniform shuffle key, no skew by
    * construction. No quadratic stage, no driver collect.
    */
  private def textCdcChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
      .filter(length(col("text")) >= 8)
      .select(col("doc_id"), col("source"), col("text"))
    // boundary detection is the codegen rolling-hash expression — one
    // fused pass per document, no per-position explode, no per-gram md5
    // (the md5 form was the query's dominant cost: full md5 + hex conv
    // per position; see functions/ChunkCuts.scala for the A/B numbers)
    val bounds = docs
      .select(col("doc_id"), explode(graft.functions.ChunkCuts.chunkCuts(col("text"), 8, 64)).as("cut"))
    val cuts = bounds
      .union(docs.select(col("doc_id"), lit(1L).as("cut")))
      .union(docs.select(col("doc_id"), (length(col("text")) + 1).cast("long").as("cut")))
      .distinct()
    val spans = cuts
      .withColumn("e", lead(col("cut"), 1).over(Window.partitionBy(col("doc_id")).orderBy(col("cut"))))
      .filter(col("e").isNotNull && col("e") > col("cut"))
    val chunks = spans
      .join(docs, Seq("doc_id"))
      .select(
        col("doc_id"),
        col("source"),
        expr("md5(substring(text, CAST(cut AS INT), CAST(e - cut AS INT)))").as("ch"),
        (col("e") - col("cut")).as("clen")
      )
    val freq = chunks.groupBy(col("ch")).agg(countDistinct(col("doc_id")).as("docs"))
    chunks
      .join(freq, Seq("ch"))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        countDistinct(col("ch")).as("distinct_chunks"),
        sum(when(col("docs") > 1, lit(1L)).otherwise(lit(0L))).as("dup_chunks"),
        sum(when(col("docs") > 1, col("clen")).otherwise(lit(0L))).as("dup_chars"),
        sum(col("clen")).as("total_chars")
      )
      .withColumn("dup_ratio_ppm", expr("dup_chars * 1000000 div total_chars"))
  }

  private val textCdcChunkDedupSql =
    """WITH docs AS (
      |  SELECT doc_id, source, text FROM documents WHERE len(text) >= 8),
      |pos AS (
      |  SELECT doc_id, text, unnest(range(1, CAST(len(text) AS BIGINT) - 6)) AS p FROM docs),
      |bnd AS (
      |  SELECT doc_id, p + 8 AS cut FROM pos
      |  WHERE (ord(text[p:p])::BIGINT * 2003465299 + ord(text[p+1:p+1])::BIGINT * 884122890
      |       + ord(text[p+2:p+2])::BIGINT * 2072267652 + ord(text[p+3:p+3])::BIGINT * 294499921
      |       + ord(text[p+4:p+4])::BIGINT * 2248091 + ord(text[p+5:p+5])::BIGINT * 17161
      |       + ord(text[p+6:p+6])::BIGINT * 131 + ord(text[p+7:p+7])::BIGINT) % 2147483647 % 64 = 0),
      |cuts AS (
      |  SELECT doc_id, cut FROM bnd
      |  UNION SELECT doc_id, 1 FROM docs
      |  UNION SELECT doc_id, CAST(len(text) AS BIGINT) + 1 FROM docs),
      |spans AS (
      |  SELECT doc_id, cut, lead(cut) OVER (PARTITION BY doc_id ORDER BY cut) AS e FROM cuts),
      |chunks AS (
      |  SELECT c.doc_id, d.source, md5(d.text[c.cut:c.e-1]) AS ch, c.e - c.cut AS clen
      |  FROM spans c JOIN docs d USING (doc_id) WHERE c.e IS NOT NULL AND c.e > c.cut),
      |freq AS (SELECT ch, count(DISTINCT doc_id) AS docs FROM chunks GROUP BY 1)
      |SELECT source,
      |  count(DISTINCT c.doc_id) AS n_docs,
      |  count(*) AS n_chunks,
      |  count(DISTINCT c.ch) AS distinct_chunks,
      |  CAST(sum(CASE WHEN f.docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
      |  CAST(sum(CASE WHEN f.docs > 1 THEN c.clen ELSE 0 END) AS BIGINT) AS dup_chars,
      |  CAST(sum(c.clen) AS BIGINT) AS total_chars,
      |  CAST(sum(CASE WHEN f.docs > 1 THEN c.clen ELSE 0 END) AS BIGINT) * 1000000
      |    // CAST(sum(c.clen) AS BIGINT) AS dup_ratio_ppm
      |FROM chunks c JOIN freq f USING (ch)
      |GROUP BY 1""".stripMargin

  // --------------------------- truncated-embedding recall (B217)

  /** Recall@10 of cosine search on the FIRST 16 of 64 embedding
    * dimensions against full-dimension search, per query — the
    * certification behind a 4× ANN memory cut (matryoshka-style prefix
    * truncation): if recall holds, the corpus can be stored and scanned
    * at a quarter of the bytes and full vectors fetched only for
    * rerank. Both sides rank by (cosine rounded to 6 dp desc, id asc) —
    * the deterministic convention every sim_* query uses.
    *
    * Scale shape: two bruteForceTopK passes (corpus streams once per
    * pass, queries broadcast); the truncated pass reads 16 floats per
    * row — exactly the scan-byte saving being certified. The recall
    * join compares two k-row-per-query sets — bounded by queries × k.
    */
  private def simTruncationRecall(s: SparkSession, dir: String): DataFrame = {
    val emb  = embeddings(s, dir)
    val full = emb.select(col("vec_id"), col("embedding"))
    val trunc = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    val q     = full.filter(col("vec_id") < 50)
    val qT    = trunc.filter(col("vec_id") < 50)
    val k     = 10
    // r16: the full-vector side is exactly the session-shared q<50/k=10
    // truth stage; only the truncated side stays a private pass
    val fullTop  = graft.operators.Similarity.truthTop10(emb, "vec_id", "embedding")
    val truncTop = graft.operators.Similarity.bruteForceTopK(trunc, qT, "vec_id", "embedding", k)
    fullTop
      .join(
        truncTop.select(col("query_id"), col("corpus_id"), lit(1L).as("hit")),
        Seq("query_id", "corpus_id"),
        "left"
      )
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits")
      )
      .withColumn("recall_ppm", expr("n_hits * 1000000 div k"))
  }

  private val simTruncationRecallSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |t AS (SELECT vec_id, e[1:16] AS e FROM v),
      |qf AS (SELECT * FROM v WHERE vec_id < 50),
      |qt AS (SELECT * FROM t WHERE vec_id < 50),
      |sf AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC, c.vec_id ASC) AS rank
      |  FROM qf q JOIN v c ON c.vec_id != q.vec_id),
      |st AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC, c.vec_id ASC) AS rank
      |  FROM qt q JOIN t c ON c.vec_id != q.vec_id),
      |ff AS (SELECT query_id, corpus_id FROM sf WHERE rank <= 10),
      |tt AS (SELECT query_id, corpus_id FROM st WHERE rank <= 10)
      |SELECT f.query_id, count(*) AS k,
      |  CAST(sum(CASE WHEN t.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
      |  CAST(sum(CASE WHEN t.corpus_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000
      |    // count(*) AS recall_ppm
      |FROM ff f LEFT JOIN tt t ON t.query_id = f.query_id AND t.corpus_id = f.corpus_id
      |GROUP BY 1""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_mg_frequent", Seq("B214"), eventsMgFrequent, eventsMgFrequentSql),
    QuerySpec("q_theilsen_trend", Seq("B215"), qTheilsenTrend, qTheilsenTrendSql),
    QuerySpec("text_cdc_chunk_dedup", Seq("B216"), textCdcChunkDedup, textCdcChunkDedupSql),
    QuerySpec("sim_truncation_recall", Seq("B217"), simTruncationRecall, simTruncationRecallSql)
  )
}
