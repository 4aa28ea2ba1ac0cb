package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Streaming leading-edge debounce — the streaming twin of the batch
  * `events_debounce` query (SURVEY.md §2 B72): per key, a record is
  * emitted only if it arrives more than `gapMs` after the PREVIOUS record
  * of that key (burst head); every record advances the stored timestamp
  * whether or not it was emitted, matching the batch query's
  * previous-EVENT (not previous-kept) gap rule.
  *
  * Within a micro-batch, records are processed in (timestamp, order) order
  * so emission is independent of arrival order inside the batch — the same
  * batch-boundary-independence contract StatefulDedup.latestWins keeps.
  * Records arriving ACROSS batches out of order are evaluated against the
  * newest seen timestamp (at-least-once transport trade-off: a stale
  * record can only be suppressed, never wrongly emitted).
  *
  * State is one Long per key (last seen ms) — the same O(keys) budget as
  * B2's high-water mark; pass `ttl` to expire idle keys on a real
  * 100 TB/day keyspace.
  */
object Debounce {

  /** Burst heads of one key's batch slice, against the last seen ms.
    * Deterministic in-batch (ts, order) order: one key's batch slice is
    * bounded by that key's arrival rate, so the sort is local and small.
    */
  private def leadingEdgeFold[K, V](ts: V => Long, order: V => Long, gapMs: Long) =
    new KeyedFold[K, V, Long, V]("last", Encoders.scalaLong, Long.MinValue)({ (_, prev, rows) =>
      var last    = prev
      val emitted = Vector.newBuilder[V]
      rows.toVector.sortBy(r => (ts(r), order(r))).foreach { r =>
        if (last == Long.MinValue || ts(r) - last > gapMs) emitted += r
        if (ts(r) > last) last = ts(r)
      }
      (Some(last).filter(_ != Long.MinValue), emitted.result().iterator)
    })

  /** `leadingEdge` on Spark 4's `transformWithState` — identical emission
    * contract to the fMGWS form below (burst-head only, every record
    * advances the stored timestamp, in-batch (ts, order) determinism) with
    * a typed `ValueState[Long]` and STORE-ENFORCED TTL instead of
    * hand-rolled timeout bookkeeping. fMGWS is the deprecated path in
    * Spark 4; TwsMigrationSpec proves output parity between the two forms
    * under the RocksDB provider (the only store transformWithState
    * supports).
    */
  def leadingEdgeTws[K, V](
      ds: Dataset[V],
      key: V => K,
      ts: V => Long,
      order: V => Long,
      gapMs: Long,
      ttl: TTLConfig = TTLConfig.NONE
  )(implicit ke: Encoder[K], ve: Encoder[V]): Dataset[V] =
    leadingEdgeFold[K, V](ts, order, gapMs).tws(ds, key, ttl, OutputMode.Append())

  def leadingEdge[K, V](
      ds: Dataset[V],
      key: V => K,
      ts: V => Long,
      order: V => Long,
      gapMs: Long,
      ttl: Option[java.time.Duration] = None
  )(implicit ke: Encoder[K], ve: Encoder[V], tupleEnc: Encoder[(K, V)]): Dataset[V] =
    leadingEdgeFold[K, V](ts, order, gapMs).fmgws(ds, key, ttl)
}
