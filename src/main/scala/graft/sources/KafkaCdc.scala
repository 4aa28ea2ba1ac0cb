package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Kafka CDC source/sink wiring (SURVEY.md §2 A1/A2/A12/A13) — the
  * production topology's edges. The reference consumes Debezium Avro
  * topics via Spring Cloud Stream bindings (application.yml:38-56); here
  * the same bindings are `readStream.format("kafka")` definitions.
  *
  * This environment has no Kafka broker (and no spark-sql-kafka /
  * spark-avro jars on the test classpath), so these builders are the
  * deploy-time surface: they compile against the stable string-based
  * DataSource API and are exercised end-to-end in tests through the
  * file-based stand-ins in graft.streaming.Pipelines, which share every
  * transform downstream of the source boundary.
  */
object KafkaCdc {

  /** The consumer option contract, separated from the builder so it is
    * unit-testable without a broker: subscription, group-position
    * semantics, and the reference's max.poll-style throttle. A18's reset
    * plugs [[graft.streaming.ResetSpec.kafkaStartingOffsets]] straight
    * into `startingOffsets`.
    */
  def cdcSourceOptions(
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None
  ): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe"               -> topic,
      "startingOffsets"         -> startingOffsets
    ) ++ maxOffsetsPerTrigger.map(n => "maxOffsetsPerTrigger" -> n.toString)

  /** A1 — CDC topic consumption: (key, value) binary columns exactly as
    * the Kafka source emits them. startingOffsets mirrors the consumer
    * group position semantics (A18's reset writes an explicit JSON map
    * here).
    */
  def cdcSource(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None
  ): DataFrame =
    spark.readStream
      .format("kafka")
      .options(cdcSourceOptions(bootstrapServers, topic, startingOffsets, maxOffsetsPerTrigger))
      .load()

  /** A2 — DLQ consumption: same source, throttled like max.poll.records:10
    * (application.yml:36).
    */
  def dlqSource(spark: SparkSession, bootstrapServers: String, dlqTopic: String): DataFrame =
    cdcSource(spark, bootstrapServers, dlqTopic, maxOffsetsPerTrigger = Some(10L))

  /** A13 — deserialization DLQ split: strip the Confluent header and
    * decode the JSON envelope with from_json; frames that are malformed
    * (bad header) or undecodable (json null) go to the corrupt branch with
    * their ORIGINAL key/value bytes, replacing the binder-level DLQ.
    * Returns (decoded, corrupt). Confluent-framed Avro envelopes take the
    * schema-registry path ([[AvroWire.decodeOrDlq]]), which ends in the
    * same [[splitDecoded]].
    */
  def decodeOrDlq(raw: DataFrame, envelopeSchema: StructType): (DataFrame, DataFrame) =
    splitDecoded(raw.withColumn("decoded", from_json(ConfluentWire.payload(col("value")).cast("string"), envelopeSchema)))

  /** The one A13 split over a frame with a `decoded` struct column:
    * (key, decoded AS value) for valid rows, (key, value) with the
    * original bytes for the rest.
    *
    * PERMISSIVE decode yields an all-null row (not a null struct) for
    * garbage input, so "decoded" alone can't flag corruption — require a
    * non-null `id`, which also routes schema-valid-but-incomplete records
    * to the DLQ like the reference's id check.
    */
  private[sources] def splitDecoded(withDecoded: DataFrame): (DataFrame, DataFrame) = {
    val valid = col("decoded").isNotNull && col("decoded.id").isNotNull
    (
      withDecoded.filter(valid).select(col("key"), col("decoded").as("value")),
      withDecoded.filter(!valid).select(col("key"), col("value"))
    )
  }

  /** A12 — typed sink: frame the serialized key/value with the registry
    * header and produce. `keyBytes`/`valueBytes` carry the Avro (or JSON)
    * body; partition placement follows the key (A11's selectKey → Kafka
    * default partitioner), which is the Kafka-Streams repartition
    * semantics.
    */
  def sinkTo(
      df: DataFrame,
      bootstrapServers: String,
      topic: String,
      checkpoint: String,
      keySchemaId: Int,
      valueSchemaId: Int
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.select(
        ConfluentWire.frame(col("keyBytes"), keySchemaId).as("key"),
        ConfluentWire.frame(col("valueBytes"), valueSchemaId).as("value")
      )
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
}
