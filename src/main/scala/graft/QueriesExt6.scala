package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Sixth query batch — the CDC-to-warehouse surface the reference feeds
  * (a Debezium stream's downstream consumers) plus remaining join/
  * multimodal coverage:
  *
  *  - `cdc_apply_merge`: apply a compacted change batch (upserts +
  *    deletes) to a dimension snapshot — the MERGE a warehouse runs per
  *    micro-batch;
  *  - `cdc_scd2_history`: build a slowly-changing-dimension type-2
  *    history (valid_from/valid_to intervals) from the raw change log;
  *  - `q_full_outer`: full-outer join coverage (semi/anti/left/inner are
  *    covered elsewhere);
  *  - `mm_frame_sample`: multimodal frame-sampling plumbing — explode
  *    deterministic frame offsets over the binary payload and read the
  *    sampled byte (a real pipeline decodes a frame; the offset math,
  *    explode shape, and carried relational columns are the scale part).
  */
object QueriesExt6 {

  /** Change log synthesized deterministically from events: key lands in
    * (and beyond) the customer key domain so the merge exercises update,
    * insert AND delete paths; 'error' events are deletes.
    */
  private def changeLog(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      (col("user_id") * 12).as("key"),
      when(col("event_type") === "error", lit("d")).otherwise(lit("u")).as("op"),
      col("value").as("new_bal"),
      unix_millis(col("ts")).as("ms"),
      col("event_id")
    )

  private val changeLogSql =
    """SELECT user_id * 12 AS key,
      |  CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
      |  value AS new_bal, epoch_ms(ts) AS ms, event_id
      |FROM events""".stripMargin

  /** MERGE: compact the change log to the latest change per key
    * (latest-wins on (ms, event_id)), then apply to the customer snapshot:
    * latest 'd' removes the row, latest 'u' updates-or-inserts, untouched
    * rows pass through. One shuffle to compact, one outer join to apply —
    * the per-micro-batch warehouse MERGE shape.
    */
  private def cdcApplyMerge(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("ms").desc, col("event_id").desc)
    val latest = changeLog(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("key"), col("op"), col("new_bal"))
    val snap = customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
    snap
      .join(latest, col("c_custkey") === col("key"), "full_outer")
      .filter(col("op").isNull || col("op") === "u") // latest delete wins
      .select(
        coalesce(col("c_custkey"), col("key")).as("custkey"),
        coalesce(col("c_name"), concat(lit("NEW-"), col("key"))).as("name"),
        when(col("op") === "u", col("new_bal")).otherwise(col("c_acctbal")).as("acctbal"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("mktsegment")
      )
  }

  private val cdcApplyMergeSql =
    s"""WITH chg AS ($changeLogSql),
       |latest AS (
       |  SELECT key, op, new_bal FROM (
       |    SELECT key, op, new_bal,
       |      row_number() OVER (PARTITION BY key ORDER BY ms DESC, event_id DESC) AS rn
       |    FROM chg) WHERE rn = 1)
       |SELECT coalesce(c_custkey, key) AS custkey,
       |  coalesce(c_name, 'NEW-' || key) AS name,
       |  CASE WHEN op = 'u' THEN new_bal ELSE c_acctbal END AS acctbal,
       |  coalesce(c_mktsegment, 'UNKNOWN') AS mktsegment
       |FROM customer FULL JOIN latest ON c_custkey = key
       |WHERE op IS NULL OR op = 'u'""".stripMargin

  /** SCD2: the change log as a type-2 dimension history — per key, each
    * change opens an interval closed by the next change (valid_to null =
    * current row). The warehouse-side representation of the reference's
    * version-counter semantics.
    */
  private def cdcScd2History(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ms").asc, col("event_id").asc)
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"), unix_millis(col("ts")).as("ms"))
      .withColumn("version_seq", row_number().over(w).cast("long"))
      .withColumn("valid_from_ms", col("ms"))
      .withColumn("valid_to_ms", lead(col("ms"), 1).over(w))
      .withColumn("is_current", col("valid_to_ms").isNull)
      .select(
        col("user_id"),
        col("event_id"),
        col("version_seq"),
        col("valid_from_ms"),
        col("valid_to_ms"),
        col("is_current"),
        col("value")
      )
  }

  private val cdcScd2HistorySql =
    """SELECT user_id, event_id,
      |  CAST(row_number() OVER w AS BIGINT) AS version_seq,
      |  ms AS valid_from_ms,
      |  lead(ms, 1) OVER w AS valid_to_ms,
      |  lead(ms, 1) OVER w IS NULL AS is_current,
      |  value
      |FROM (SELECT user_id, event_id, value, epoch_ms(ts) AS ms FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ms ASC, event_id ASC)""".stripMargin

  /** Full-outer join: nation-level customer vs supplier presence, nulls
    * where only one side exists.
    */
  private def qFullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).groupBy(col("c_nationkey").as("ckey")).agg(count(lit(1)).as("n_customers"))
    val p = supplier(s, dir).groupBy(col("s_nationkey").as("skey")).agg(count(lit(1)).as("n_suppliers"))
    c.join(p, col("ckey") === col("skey"), "full_outer")
      .select(
        coalesce(col("ckey"), col("skey")).cast("long").as("nationkey"),
        col("n_customers"),
        col("n_suppliers")
      )
  }

  private val qFullOuterSql =
    """SELECT CAST(coalesce(ckey, skey) AS BIGINT) AS nationkey, n_customers, n_suppliers
      |FROM (SELECT c_nationkey AS ckey, count(*) AS n_customers FROM customer GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey AS skey, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
      |ON ckey = skey""".stripMargin

  /** Frame sampling over the (stand-in) binary payload: 8 evenly spaced
    * offsets per document, explode to one row per frame, read the sampled
    * byte. The documents' text bytes stand in for video payloads — ASCII
    * only, so the byte value equals the character code on both engines.
    */
  private def mmFrameSample(s: SparkSession, dir: String): DataFrame = {
    val media = documents(s, dir).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      length(col("text")).cast("long").as("n_bytes")
    )
    operators.Multimodal
      .frameOffsets(media, "n_bytes", 8)
      .select(col("doc_id"), col("payload"), posexplode(col("frame_offsets")).as(Seq("frame_idx", "offset")))
      .select(
        col("doc_id"),
        col("frame_idx").cast("long").as("frame_idx"),
        col("offset"),
        // 1-byte slice of the binary payload at the sampled offset (the
        // "decoded frame" stand-in); ASCII-safe cast to read its value
        ascii(expr("cast(substring(payload, offset + 1, 1) as string)")).cast("long").as("byte_val")
      )
  }

  private val mmFrameSampleSql =
    """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
      |  length(text) * i // 8 AS offset,
      |  CAST(ascii(substr(text, (length(text) * i // 8) + 1, 1)) AS BIGINT) AS byte_val
      |FROM documents, range(0, 8) t(i)""".stripMargin

  // --------------------------------------------------------------- registry

  private[graft] val specs: Seq[QuerySpec] = Seq(
    QuerySpec("cdc_apply_merge", Seq("B10"), cdcApplyMerge, cdcApplyMergeSql),
    QuerySpec("cdc_scd2_history", Seq("B10"), cdcScd2History, cdcScd2HistorySql),
    QuerySpec("q_full_outer", Seq("B8"), qFullOuter, qFullOuterSql),
    QuerySpec("mm_frame_sample", Seq("B6"), mmFrameSample, mmFrameSampleSql)
  )
}
