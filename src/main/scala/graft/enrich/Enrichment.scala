package graft.enrich

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lookup enrichment — the reference's core operator (SURVEY.md §2 A5–A9).
  *
  * The reference enriches each CDC record by an HTTP GET against the source
  * service (AnimalEnrichmentService.java:79-82) — semantically a primary-key
  * equi-join against the current dimension table. The idiomatic Spark form
  * is a broadcast hash join per (micro-)batch: the dimension is re-read each
  * batch so late updates are visible, and no executor makes network calls in
  * the hot path.
  *
  * Error handling mirrors the reference's EnrichResult sum type
  * (AnimalTransformerStream.java:30): a `failed` flag column instead of an
  * exception, so the branch operator (A8) is two filters over one cached
  * batch.
  */
object Enrichment {

  /** A5 — enrich `records` with `dimension` on `records[keyCol] ==
    * dimension[dimKeyCol]`. Left join keeps misses so callers can branch;
    * `enrich_failed` marks them (A7's try/catch as a column).
    * The dimension is always broadcast: it is the per-batch lookup table,
    * and a broadcast hash join is the one-probe-per-record form of the
    * reference's REST lookup.
    */
  def enrich(records: DataFrame, dimension: DataFrame, keyCol: String, dimKeyCol: String): DataFrame = {
    val dim = broadcast(dimension)
    records
      .join(dim, records(keyCol) === dim(dimKeyCol), "left")
      .withColumn("enrich_failed", dim(dimKeyCol).isNull)
  }

  /** A8 — branch: (successes, failures). Callers working per micro-batch
    * should cache the input before branching (done in the streaming
    * pipeline wiring, not here, so batch users don't pay for it).
    */
  def branch(enriched: DataFrame): (DataFrame, DataFrame) = (
    enriched.filter(!col("enrich_failed")).drop("enrich_failed"),
    enriched.filter(col("enrich_failed")).drop("enrich_failed")
  )

  /** A11 — re-key: prepend a key struct built from `keyCol`, mirroring
    * selectKey(RecordKey(id)). On a Kafka sink the serialized key drives
    * partition placement, i.e. the Kafka-Streams repartition semantics.
    */
  def rekey(df: DataFrame, keyCol: String): DataFrame =
    df.select(struct(col(keyCol).as("id")).as("key"), col("*"))
}
