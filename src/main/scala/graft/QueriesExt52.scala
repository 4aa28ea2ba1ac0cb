package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-10 additions, batch 45: winnowing fingerprints (Schleimer,
  * Wilkerson, Aiken — the MOSS algorithm) — the document-overlap
  * detector with a GUARANTEE the other dedup layers don't have: any
  * shared substring of length ≥ w + g − 1 is certain to share a
  * selected fingerprint. B216's content-defined chunks need the shared
  * region to contain a chunk boundary; MinHash (B3) estimates whole-doc
  * similarity; winnowing certifies local overlap detection with a
  * bounded fingerprint density (≥ 1 per window, ~2/(w+1) of positions).
  */
object QueriesExt52 {

  // --------------------------- winnowing overlap (B233)

  /** Per-document winnowing fingerprints → cross-document shared-
    * fingerprint pair report: per (doc_a, doc_b) pair sharing at least
    * `minShared` selected fingerprints, the shared count and each
    * doc's fingerprint total with overlap ratios in ppm — MOSS's
    * plagiarism matrix. Gram hashes are the SAME base-131/mod-2³¹−1
    * polynomial as B216 (cheap integer math, no md5); selection uses
    * the winnowing identity that makes the SQL trivial: the selected
    * positions are each window's (rightmost) minimum, so the selected
    * HASH set — all the pair matching needs — is exactly the DISTINCT
    * per-window minima over all full windows: one partitioned window
    * min + a distinct, replayed verbatim by the oracle. (Tie-break
    * rules pick which POSITION represents a hash; they cannot change
    * the hash set.)
    *
    * Boilerplate exclusion (MOSS does the same for common code): a
    * fingerprint present in more than 10 documents is dropped before
    * pairing — an ABSOLUTE cap, deliberately not corpus-relative: a
    * gram shared by dozens of documents is boilerplate at any corpus
    * size, and a relative cap re-admits huge buckets as the corpus
    * grows (measured: the n_docs/50 form ran 15 s at sf0.1 and timed
    * out at sf1; the absolute cap bounds every bucket's pair fan-out
    * at 45) — ubiquitous 8-grams (" the ", list
    * separators) otherwise join every doc to every doc (measured at
    * sf0.01: 108k of 125k possible pairs without the cap, 223
    * informative pairs with it). The cap is also what bounds the pair
    * join: every surviving hash bucket is ≤ cap docs, so the join
    * fan-out is ≤ cap²/2 per fingerprint — never doc².
    *
    * Scale shape: the position explode is the linear char class
    * (arithmetic only); fingerprint selection is one window min
    * partitioned by doc (never global); the pair join runs on the
    * df-capped selected fingerprints grouped by content hash, with
    * the shared-count filter applied before the per-pair rollup.
    */
  private[graft] def textWinnowingOverlap(s: SparkSession, dir: String): DataFrame = {
    val g         = 8
    val w         = 4
    val minShared = 3
    val docs = documents(s, dir)
      .filter(length(col("text")) >= g)
      .select(col("doc_id"), col("text"))
    // h(p) for every gram position via the codegen rolling-hash
    // expression (one O(len) pass per doc; the 8×substring/ascii SQL
    // form re-seeks the string per call — O(len²), measured dominant)
    val hashes = docs
      .select(col("doc_id"), posexplode(graft.functions.GramHashes.gramHashes(col("text"), g)).as(Seq("pidx", "h")))
      .select(col("doc_id"), (col("pidx") + 1).as("p"), col("h"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("p")).rowsBetween(-(w - 1), 0)
    // r15: three consumers (per-doc totals, the df cap, the pair join)
    // re-ran the explode+window+distinct reduce side each — exchange
    // reuse only dedupes the map-side shuffle write. The selected-
    // fingerprint set IS the index MOSS materializes once per corpus.
    // r16: promoted from a per-invocation checkpoint to a session stage —
    // dedup_detector_agreement re-invokes this whole query, so the
    // selection pipeline ran once per CONSUMER; now once per session
    // (build metered by the bench like every stage).
    val selected = graft.operators.SessionStageCache.getOrCompute(
      documents(s, dir), s"winnowFingerprints:$g:$w") {
      hashes
        .withColumn("wmin", min(col("h")).over(win))
        .filter(col("p") >= w) // only full windows select (standard winnowing)
        .select(col("doc_id"), col("wmin").as("h"))
        .distinct()
        .localCheckpoint(true)
    }
    val perDoc = selected.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val rare = selected
      .join(
        selected.groupBy(col("h")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= 10)
          .select(col("h")),
        Seq("h"),
        "left_semi"
      )
    val pairs = rare
      .join(rare.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_id") < col("doc_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
    pairs
      .join(perDoc.select(col("doc_id").as("doc_a"), col("n_fp").as("fp_a")), Seq("doc_a"))
      .join(perDoc.select(col("doc_id").as("doc_b"), col("n_fp").as("fp_b")), Seq("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        col("shared_fp"),
        col("fp_a"),
        col("fp_b"),
        expr("shared_fp * 1000000 div least(fp_a, fp_b)").as("containment_ppm")
      )
  }

  private[graft] val textWinnowingOverlapSql =
    """WITH docs AS (
      |  SELECT doc_id, text FROM documents WHERE len(text) >= 8),
      |pos AS (
      |  SELECT doc_id, text, unnest(range(1, CAST(len(text) AS BIGINT) - 6)) AS p FROM docs),
      |h AS (
      |  SELECT doc_id, p,
      |    (ord(text[p:p])::BIGINT * 2003465299 + ord(text[p+1:p+1])::BIGINT * 884122890
      |     + ord(text[p+2:p+2])::BIGINT * 2072267652 + ord(text[p+3:p+3])::BIGINT * 294499921
      |     + ord(text[p+4:p+4])::BIGINT * 2248091 + ord(text[p+5:p+5])::BIGINT * 17161
      |     + ord(text[p+6:p+6])::BIGINT * 131 + ord(text[p+7:p+7])::BIGINT) % 2147483647 AS h
      |  FROM pos),
      |sel AS (
      |  SELECT DISTINCT doc_id, wmin AS h FROM (
      |    SELECT doc_id, p,
      |      min(h) OVER (PARTITION BY doc_id ORDER BY p ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
      |    FROM h) t
      |  WHERE p >= 4),
      |pd AS (SELECT doc_id, count(*) AS n_fp FROM sel GROUP BY 1),
      |rare AS (
      |  SELECT s.doc_id, s.h FROM sel s
      |  JOIN (SELECT h, count(*) AS df FROM sel GROUP BY 1) f ON f.h = s.h
      |  WHERE f.df <= 10),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fp
      |  FROM rare a JOIN rare b ON b.h = a.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT p.doc_a, p.doc_b, p.shared_fp, pa.n_fp AS fp_a, pb.n_fp AS fp_b,
      |  p.shared_fp * 1000000 // least(pa.n_fp, pb.n_fp) AS containment_ppm
      |FROM pairs p
      |JOIN pd pa ON pa.doc_id = p.doc_a
      |JOIN pd pb ON pb.doc_id = p.doc_b""".stripMargin

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("text_winnowing_overlap", Seq("B233"), textWinnowingOverlap, textWinnowingOverlapSql)
  )
}
