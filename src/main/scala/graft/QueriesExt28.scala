package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Round-8 additions, batch 22: sliding-window velocity rules, IDF-weighted
  * near-dup verification, and blob chunk planning — a fraud primitive, the
  * production-grade similarity weighting, and multimodal storage plumbing.
  */
object QueriesExt28 {

  // --------------------------- velocity rule (B166)

  /** Per-user activity velocity: the maximum number of events inside ANY
    * trailing 24 h window — the sliding-count primitive behind fraud and
    * abuse rules ("more than N actions in M minutes"). Per-event RANGE
    * frame over epoch-ms; equal timestamps fall in the same frame on both
    * engines, so the count is tie-stable. This is a deliberate event-level
    * window — velocity is a per-event property — bounded by the user
    * partition (the events-per-user rate), not the corpus.
    *
    * Scale shape: one user-keyed window pass + one per-user max agg; no
    * self-join (the naive velocity formulation is events⋈events on a time
    * band).
    */
  private def eventsVelocityFlags(s: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ms"))
      .rangeBetween(-86399999L, 0L)
    events(s, dir)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"))
      .withColumn("burst", count(lit(1)).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("burst")).as("max_burst_24h"), count(lit(1)).as("n_events"))
      .withColumn("flagged", col("max_burst_24h") >= 10L)
  }

  private val eventsVelocityFlagsSql =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
      |b AS (
      |  SELECT user_id,
      |    count(*) OVER (PARTITION BY user_id ORDER BY ms
      |                   RANGE BETWEEN 86399999 PRECEDING AND CURRENT ROW) AS burst
      |  FROM e)
      |SELECT user_id, max(burst) AS max_burst_24h, count(*) AS n_events,
      |  max(burst) >= 10 AS flagged
      |FROM b GROUP BY 1""".stripMargin

  // --------------------------- IDF-weighted Jaccard (B167)

  /** IDF-weighted Jaccard on the LSH candidate pairs: plain Jaccard (B3)
    * treats "the quick brown fox" and a rare domain phrase as equal
    * evidence; production near-dup weights each shingle by rarity. Weights
    * are exact rationals — w(s) = 1e6 div df(s) — so weighted overlap and
    * union are exact BIGINT sums and the final ppm is an integer division:
    * no libm, no float ordering, bit-identical across engines. Pairs enter
    * from the verified MinHash pair list at τ=0.5 (exactly B3's pair
    * set), so the weighting layer adds no new candidate generation.
    *
    * Scale shape: df is one shingle hash-agg; weighted overlap joins the
    * verified pair list (LSH-bounded, never all-pairs) through the
    * exploded sets; per-doc weight totals come from one more hash-agg.
    */
  private def dedupIdfJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs  = documents(s, dir)
    val pairs = operators.Dedup
      .minhashPairs(docs, "doc_id", "text", 3, 0.5)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val sets = docs
      .select(
        col("doc_id"),
        explode(array_distinct(operators.TextAnalysis.wordShingles(col("text"), 3))).as("shingle")
      )
    val wts = sets
      .groupBy(col("shingle"))
      .agg(expr("CAST(1000000 div count(1) AS BIGINT)").as("w"))
    // IDF (df) is corpus-global, but only documents that appear in a
    // verified pair need their weighted sets — semi-join pruning keeps
    // the weight join pair-member-sized however large the corpus
    val members = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    val wsets   = sets.join(members, Seq("doc_id"), "left_semi").join(wts, Seq("shingle"))
    val perDoc  = wsets.groupBy(col("doc_id")).agg(sum(col("w")).as("wsum"))
    val overlap = pairs
      .join(wsets.select(col("doc_id").as("id_a"), col("shingle"), col("w")), Seq("id_a"))
      .join(wsets.select(col("doc_id").as("id_b"), col("shingle").as("sb")), Seq("id_b"))
      .where(col("shingle") === col("sb"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("w")).as("winter"))
    pairs
      .join(overlap, Seq("id_a", "id_b"), "left")
      .join(perDoc.select(col("doc_id").as("id_a"), col("wsum").as("wa")), Seq("id_a"))
      .join(perDoc.select(col("doc_id").as("id_b"), col("wsum").as("wb")), Seq("id_b"))
      .select(
        col("id_a"),
        col("id_b"),
        col("jaccard"),
        expr("CAST(coalesce(winter, 0) * 1000000 div (wa + wb - coalesce(winter, 0)) AS BIGINT)")
          .as("wjaccard_ppm")
      )
  }

  private val dedupIdfJaccardSql =
    s"""WITH mh AS (${QueriesExt.minhashPairsSql}),
       |base AS (SELECT doc_id, regexp_replace(lower(trim(text)),'\\s+',' ','g') AS norm FROM documents),
       |t AS (SELECT doc_id, norm, string_split(norm,' ') AS toks FROM base),
       |sets AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(toks)>=3 THEN [array_to_string(toks[i:i+2],' ') for i in range(1,len(toks)-1)] ELSE [norm] END
       |  )) AS shingle FROM t),
       |wts AS (SELECT shingle, CAST(1000000 // count(*) AS BIGINT) AS w FROM sets GROUP BY 1),
       |wsets AS (SELECT doc_id, sets.shingle, w FROM sets JOIN wts USING (shingle)),
       |per_doc AS (SELECT doc_id, sum(w) AS wsum FROM wsets GROUP BY 1),
       |ov AS (
       |  SELECT mh.id_a, mh.id_b, sum(a.w) AS winter
       |  FROM mh
       |  JOIN wsets a ON a.doc_id = mh.id_a
       |  JOIN wsets b ON b.doc_id = mh.id_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2)
       |SELECT mh.id_a, mh.id_b, mh.jaccard,
       |  CAST(coalesce(winter, 0) * 1000000 // (pa.wsum + pb.wsum - coalesce(winter, 0)) AS BIGINT) AS wjaccard_ppm
       |FROM mh
       |LEFT JOIN ov ON ov.id_a = mh.id_a AND ov.id_b = mh.id_b
       |JOIN per_doc pa ON pa.doc_id = mh.id_a
       |JOIN per_doc pb ON pb.doc_id = mh.id_b""".stripMargin

  // --------------------------- blob chunk manifest (B168)

  /** Chunked-storage plan for binary payloads: per document the 4 KiB
    * chunk count and tail size, rolled up per source with the mean chunk
    * fill ppm — the manifest a blob store needs before multimodal payloads
    * are written as fixed-size pages (the B6 family's storage-plumbing
    * step). Pure integer arithmetic on byte lengths.
    *
    * Scale shape: one scan computing lengths + one map-side rollup.
    */
  private def mmChunkManifest(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(
        col("source"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes")
      )
      .withColumn("n_chunks", expr("CAST((n_bytes + 4095) div 4096 AS BIGINT)"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_payloads"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("n_chunks")).as("total_chunks")
      )
      .withColumn(
        "fill_ppm",
        expr("CAST(total_bytes * 1000000 div (total_chunks * 4096) AS BIGINT)")
      )

  private val mmChunkManifestSql =
    """WITH p AS (
      |  SELECT source, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |         CAST((octet_length(encode(text)) + 4095) // 4096 AS BIGINT) AS n_chunks
      |  FROM documents)
      |SELECT source, count(*) AS n_payloads,
      |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |  CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
      |  CAST(sum(n_bytes) * 1000000 // (sum(n_chunks) * 4096) AS BIGINT) AS fill_ppm
      |FROM p GROUP BY 1""".stripMargin

  // ------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("events_velocity_flags", Seq("B166"), eventsVelocityFlags, eventsVelocityFlagsSql),
    QuerySpec("dedup_idf_jaccard", Seq("B167"), dedupIdfJaccard, dedupIdfJaccardSql),
    QuerySpec("mm_chunk_manifest", Seq("B168"), mmChunkManifest, mmChunkManifestSql)
  )
}
