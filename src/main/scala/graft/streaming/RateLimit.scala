package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Per-key token-bucket rate limiting — the budget-based admission
  * control next to Debounce's gap-based one: each key owns a bucket of
  * `capacityMilli` milli-tokens refilling at `refillMilliPerSec`; a
  * record is emitted iff a whole token (1000 milli) is available, and
  * admission spends it. The reference's DLQ replay throttle
  * (`max.poll.records: 10`, application.yml:36) is the same idea at the
  * consumer level; this is the keyed, event-time-deterministic form.
  *
  * Refill is computed from EVENT time, not processing time, so emission
  * is a pure function of the input stream — replayable, testable, and
  * independent of micro-batch boundaries (records are processed in
  * (ts, order) order within a batch, Debounce's contract). Integer
  * milli-token arithmetic avoids float drift in long-running state.
  *
  * State is two Longs per key (tokens, last refill ms) — O(keys), TTL
  * option for idle-key expiry as in StatefulDedup.
  */
object RateLimit {

  /** Integer-milli token-bucket admission of one key's batch slice in
    * (ts, order) order; state is (tokens, last refill ms).
    */
  private def tokenBucketFold[K, V](ts: V => Long, order: V => Long, capacityMilli: Long, refillMilliPerSec: Long) =
    new KeyedFold[K, V, (Long, Long), V](
      "bucket", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), (capacityMilli, Long.MinValue))({
      (_, prev, rows) =>
        var (tokens, lastMs) = prev
        val emitted          = Vector.newBuilder[V]
        rows.toVector.sortBy(r => (ts(r), order(r))).foreach { r =>
          val t = ts(r)
          if (lastMs != Long.MinValue && t > lastMs) {
            // integer refill: elapsed ms × rate, floor at the ms grain
            tokens = math.min(capacityMilli, tokens + (t - lastMs) * refillMilliPerSec / 1000L)
          }
          if (lastMs == Long.MinValue || t > lastMs) lastMs = t
          if (tokens >= 1000L) {
            tokens -= 1000L
            emitted += r
          }
        }
        (Some((tokens, lastMs)), emitted.result().iterator)
    })

  /** `tokenBucket` on Spark 4's `transformWithState` — same event-time
    * integer-milli admission arithmetic as the fMGWS form below, with the
    * (tokens, last refill ms) pair in a typed `ValueState` and
    * store-enforced TTL for idle-key expiry. fMGWS is the deprecated path
    * in Spark 4; TwsMigrationSpec proves output parity under RocksDB.
    */
  def tokenBucketTws[K, V](
      ds: Dataset[V],
      key: V => K,
      ts: V => Long,
      order: V => Long,
      capacityMilli: Long,
      refillMilliPerSec: Long,
      ttl: TTLConfig = TTLConfig.NONE
  )(implicit ke: Encoder[K], ve: Encoder[V]): Dataset[V] =
    tokenBucketFold[K, V](ts, order, capacityMilli, refillMilliPerSec).tws(ds, key, ttl, OutputMode.Append())

  def tokenBucket[K, V](
      ds: Dataset[V],
      key: V => K,
      ts: V => Long,
      order: V => Long,
      capacityMilli: Long,
      refillMilliPerSec: Long,
      ttl: Option[java.time.Duration] = None
  )(implicit ke: Encoder[K], ve: Encoder[V], tupleEnc: Encoder[(K, V)]): Dataset[V] =
    tokenBucketFold[K, V](ts, order, capacityMilli, refillMilliPerSec).fmgws(ds, key, ttl)
}
