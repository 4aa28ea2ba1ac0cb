package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium-style CDC envelope handling (SURVEY.md §1.3, operators A3/A4).
  *
  * The reference consumes `(key, value)` records where `value` is the
  * Debezium envelope `{before, after, op, ts_ms}` and
  *  - `value == null`          → Kafka tombstone, dropped
  *    (reference: AnimalTransformerStream.java:37)
  *  - `value.after == null`    → delete event, dropped
  *    (reference: AnimalEnrichmentService.java:38-41)
  *  - `after.id` null or 0     → invalid, dropped
  *    (reference: AnimalEnrichmentService.java:44-55)
  *
  * Here those semantics are pure column predicates, so they fuse into the
  * scan stage and (for parquet/Kafka sources with pushdown) prune before
  * deserialization where possible.
  */
object Envelope {

  /** Row schema of a generic envelope whose `after`/`before` carry the
    * payload struct `payload`.
    */
  def envelopeSchema(payload: StructType): StructType = StructType(Seq(
    StructField("before", payload, nullable = true),
    StructField("after", payload, nullable = true),
    StructField("op", StringType, nullable = true),
    StructField("ts_ms", LongType, nullable = true)
  ))

  /** A3 — tombstone drop: null envelope value. */
  def dropTombstones(df: DataFrame): DataFrame =
    df.filter(col("value").isNotNull)

  /** A4 — the id rule: a record id is valid when it is neither null nor 0. */
  def validId(id: Column): Column = id.isNotNull && id =!= 0

  /** A3 + A4 — the envelope rows worth processing: tombstones, deletes
    * (null `after`) and null/zero ids dropped, in that order. Keeps the
    * envelope columns as they are.
    */
  def validAfter(df: DataFrame): DataFrame =
    dropTombstones(df)
      .filter(col("value.after").isNotNull)
      .filter(validId(col("value.after.id")))

  /** A4 — extract the `after` image of the `validAfter` rows.
    * Emits the flattened after-payload columns.
    */
  def extractAfter(df: DataFrame): DataFrame =
    validAfter(df).select(col("value.after.*"))

  /** Deterministic envelope synthesis for tests/fixtures: wraps the
    * `events` fixture table into CDC envelopes, marking a reproducible
    * subset as tombstones (event_id % 97 == 0), deletes (% 89 == 0) and
    * zero-id rows (% 83 == 0). op follows Debezium codes c/u/d.
    */
  def synthesizeFromEvents(events: DataFrame): DataFrame = {
    val payload = struct(
      when(col("event_id") % 83 === 0, lit(0L)).otherwise(col("event_id")).as("id"),
      col("user_id"),
      col("event_type"),
      col("value"),
      unix_millis(col("ts")).as("ts_ms")
    )
    val value = when(
      col("event_id") % 97 === 0,
      lit(null).cast(envelopeSchema(payloadSchema))
    ).otherwise(
      struct(
        lit(null).cast(payloadSchema).as("before"),
        when(col("event_id") % 89 === 0, lit(null).cast(payloadSchema)).otherwise(payload).as("after"),
        when(col("event_id") % 89 === 0, lit("d"))
          .when(col("event_id") % 2 === 0, lit("u"))
          .otherwise(lit("c")).as("op"),
        unix_millis(col("ts")).as("ts_ms")
      )
    )
    events.select(struct(col("event_id").as("id")).as("key"), value.as("value"))
  }

  val payloadSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("ts_ms", LongType)
  ))
}
