package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._

/** Round-10 additions, batch 50: what per-file BLOOM filters buy on top
  * of min/max footer stats for point lookups — the data-skipping lens
  * B234 (Z-order vs natural, range predicates) deliberately leaves out.
  */
object QueriesExt57 {

  // --------------------------- bloom file-skipping gain (B241)

  /** Per-file Bloom-filter skipping simulation (`q_bloom_skipping_gain`):
    * events land in ~64 files in natural (event_id-stride) order; a
    * point lookup `user_id = ?` then prunes with (a) the parquet footer
    * [min,max] box — nearly useless, every file spans most of the id
    * domain under arrival order — and (b) a per-file Bloom filter
    * (m=8192 bits, k=3, md5-derived positions, the parquet
    * bloom_filter_enabled shape). For 16 deterministic probe users
    * (smallest md5 rank — B16's sampling contract) the query emits files
    * actually containing the user, files each pruner admits, the
    * combined admit count, and the read fraction the bloom layer avoids
    * vs stats-only — plus the false-positive count that sizes m against
    * the bound (1-(1-1/m)^(kn))^k. This is the
    * high-cardinality-point-lookup complement of B234: Z-order fixes
    * range scans, blooms fix needle lookups, footers alone fix neither.
    *
    * Scale shape: file assignment is scan-local (event_id stride, no
    * global sort); the bloom build is a distinct-agg BOUNDED by
    * files × m (64 × 8192 here) regardless of event volume — exactly a
    * real writer's per-file state; boxes are one map-side agg; probes
    * are a 16-row broadcast everywhere they appear (membership join,
    * true-count semi-join). Nothing downstream of the first aggs grows
    * with data.
    */
  private def qBloomSkippingGain(s: SparkSession, dir: String): DataFrame = {
    val m = 8192L
    val ev = events(s, dir).select(col("event_id"), col("user_id"))
    val maxId = ev.agg((max(col("event_id")) + 1).as("max_id"))
    val filed = ev
      .crossJoin(broadcast(maxId))
      .select(expr("event_id * 64 div max_id").as("f"), col("user_id"))
    // r16 (§2.3): every downstream consumer (bloom bits, boxes, probe
    // pick, true-file counts) depends only on WHICH users appear in
    // WHICH file — the distinct (f, user_id) incidence table — yet each
    // re-scanned the event-sized `filed` projection (4 corpus passes).
    // One distinct pass now feeds all four; it is (files × users-per-
    // file)-bounded, exactly the per-file writer state the simulation
    // models. All derivations are set-identical (bits depend only on
    // user_id; min/max/distinct are duplicate-insensitive).
    val duf = filed.distinct().localCheckpoint(true)
    // per-file bloom: distinct bit positions over k=3 md5 hash slices
    def bit(j: Int, c: org.apache.spark.sql.Column) =
      graft.functions.Hashing.h32(concat(lit(s"bf$j:"), c.cast("string"))) % m
    val fileBits = duf
      .select(col("f"), explode(array(
        bit(0, col("user_id")), bit(1, col("user_id")), bit(2, col("user_id")))).as("bit"))
      .distinct()
    val boxes = duf.groupBy(col("f"))
      .agg(min(col("user_id")).as("min_u"), max(col("user_id")).as("max_u"))
    // 16 deterministic probes: distinct users ranked by md5("probe:<u>")
    val probes = duf.select(col("user_id")).distinct()
      .select(col("user_id"),
        row_number().over(Window.orderBy(
          md5(concat(lit("probe:"), col("user_id").cast("string"))).asc,
          col("user_id").asc)).as("rk"))
      .where(col("rk") <= 16)
      .select(col("user_id"))
    val trueFiles = duf
      .join(broadcast(probes), Seq("user_id"), "left_semi")
      .groupBy(col("user_id")).agg(count(lit(1)).as("files_true"))
    val mmFiles = boxes
      .crossJoin(broadcast(probes))
      .where(col("min_u") <= col("user_id") && col("user_id") <= col("max_u"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("files_minmax"))
    val probeBits = probes.select(col("user_id"), explode(array(
      bit(0, col("user_id")), bit(1, col("user_id")), bit(2, col("user_id")))).as("bit"))
      .distinct()
    val probeK = probeBits.groupBy(col("user_id")).agg(count(lit(1)).as("k_bits"))
    val bloomFiles = fileBits
      .join(broadcast(probeBits), Seq("bit"))
      .select(col("user_id"), col("f"), col("bit")).distinct()
      .groupBy(col("user_id"), col("f")).agg(count(lit(1)).as("hits"))
      .join(broadcast(probeK), Seq("user_id"))
      .where(col("hits") === col("k_bits"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("files_bloom"))
    val combined = fileBits
      .join(broadcast(probeBits), Seq("bit"))
      .select(col("user_id"), col("f"), col("bit")).distinct()
      .groupBy(col("user_id"), col("f")).agg(count(lit(1)).as("hits"))
      .join(broadcast(probeK), Seq("user_id"))
      .where(col("hits") === col("k_bits"))
      .join(boxes, Seq("f"))
      .where(col("min_u") <= col("user_id") && col("user_id") <= col("max_u"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("files_combined"))
    trueFiles
      .join(mmFiles, Seq("user_id"), "left").na.fill(0L, Seq("files_minmax"))
      .join(bloomFiles, Seq("user_id"), "left").na.fill(0L, Seq("files_bloom"))
      .join(combined, Seq("user_id"), "left").na.fill(0L, Seq("files_combined"))
      .select(
        col("user_id"), col("files_true"), col("files_minmax"),
        col("files_bloom"), col("files_combined"),
        (col("files_bloom") - col("files_true")).as("bloom_fp"),
        expr("CASE WHEN files_minmax = 0 THEN 0L ELSE (files_minmax - files_combined) * 1000000 div files_minmax END")
          .as("skip_gain_ppm"))
  }

  private val qBloomSkippingGainSql = {
    def bit(j: Int, c: String) =
      s"CAST('0x' || substr(md5('bf$j:' || CAST($c AS VARCHAR)), 1, 8) AS BIGINT) % 8192"
    s"""WITH mx AS (SELECT max(event_id) + 1 AS max_id FROM events),
       |filed AS MATERIALIZED (
       |  SELECT event_id * 64 // mx.max_id AS f, user_id FROM events, mx),
       |file_bits AS MATERIALIZED (
       |  SELECT DISTINCT f, b AS bit FROM filed,
       |  UNNEST([${bit(0, "user_id")}, ${bit(1, "user_id")}, ${bit(2, "user_id")}]) t(b)),
       |boxes AS MATERIALIZED (
       |  SELECT f, min(user_id) AS min_u, max(user_id) AS max_u FROM filed GROUP BY 1),
       |probes AS MATERIALIZED (
       |  SELECT user_id FROM (
       |    SELECT user_id, row_number() OVER (
       |      ORDER BY md5('probe:' || CAST(user_id AS VARCHAR)) ASC, user_id ASC) AS rk
       |    FROM (SELECT DISTINCT user_id FROM filed))
       |  WHERE rk <= 16),
       |true_files AS (
       |  SELECT user_id, count(*) AS files_true
       |  FROM (SELECT DISTINCT p.user_id, d.f
       |        FROM filed d JOIN probes p ON p.user_id = d.user_id)
       |  GROUP BY 1),
       |mm_files AS (
       |  SELECT p.user_id, count(*) AS files_minmax
       |  FROM boxes b JOIN probes p ON b.min_u <= p.user_id AND p.user_id <= b.max_u
       |  GROUP BY 1),
       |probe_bits AS MATERIALIZED (
       |  SELECT DISTINCT user_id, b AS bit FROM probes,
       |  UNNEST([${bit(0, "user_id")}, ${bit(1, "user_id")}, ${bit(2, "user_id")}]) t(b)),
       |probe_k AS (SELECT user_id, count(*) AS k_bits FROM probe_bits GROUP BY 1),
       |hits AS MATERIALIZED (
       |  SELECT pb.user_id, fb.f, count(DISTINCT pb.bit) AS hits
       |  FROM file_bits fb JOIN probe_bits pb ON pb.bit = fb.bit
       |  GROUP BY 1, 2),
       |bloom_pass AS MATERIALIZED (
       |  SELECT h.user_id, h.f FROM hits h JOIN probe_k k ON k.user_id = h.user_id
       |  WHERE h.hits = k.k_bits),
       |bloom_files AS (SELECT user_id, count(*) AS files_bloom FROM bloom_pass GROUP BY 1),
       |combined AS (
       |  SELECT bp.user_id, count(*) AS files_combined
       |  FROM bloom_pass bp JOIN boxes b ON b.f = bp.f
       |  WHERE b.min_u <= bp.user_id AND bp.user_id <= b.max_u
       |  GROUP BY 1)
       |SELECT t.user_id, t.files_true,
       |  CAST(coalesce(m.files_minmax, 0) AS BIGINT) AS files_minmax,
       |  CAST(coalesce(bf.files_bloom, 0) AS BIGINT) AS files_bloom,
       |  CAST(coalesce(c.files_combined, 0) AS BIGINT) AS files_combined,
       |  CAST(coalesce(bf.files_bloom, 0) - t.files_true AS BIGINT) AS bloom_fp,
       |  CASE WHEN coalesce(m.files_minmax, 0) = 0 THEN 0
       |    ELSE (m.files_minmax - coalesce(c.files_combined, 0)) * 1000000 // m.files_minmax
       |  END AS skip_gain_ppm
       |FROM true_files t
       |LEFT JOIN mm_files m ON m.user_id = t.user_id
       |LEFT JOIN bloom_files bf ON bf.user_id = t.user_id
       |LEFT JOIN combined c ON c.user_id = t.user_id""".stripMargin
  }

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_bloom_skipping_gain", Seq("B241"), qBloomSkippingGain, qBloomSkippingGainSql)
  )
}
