package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Streaming latest-wins compaction (SURVEY.md §2 B2, streaming form) —
  * the reference's `@Version` optimistic-lock counter as unbounded keyed
  * state: per key, emit a record only when its version advances past the
  * stored high-water mark. Out-of-order and duplicate CDC records are
  * suppressed.
  *
  * State is one Long per key. At 100 TB keyspace that still fits the
  * state store budget (8 bytes × keys, RocksDB-backed on a real cluster),
  * but unbounded keys need a TTL policy: pass `ttl` to drop idle keys via
  * processing-time timeout — the watermark-bounded alternative to keeping
  * every key forever (documented trade-off: a key silent longer than the
  * TTL re-emits its next record even if the version regressed).
  */
object StatefulDedup {

  /** B1 streaming form — exact dedup with bounded state:
    * `dropDuplicatesWithinWatermark` keeps a key's fingerprint only until
    * the watermark passes it, so state is O(keys per watermark window),
    * not O(all keys ever) — the difference between a bounded and an
    * unbounded state store at 100 TB/day. Exactly-one-survivor semantics
    * hold for duplicates arriving within the watermark delay of each
    * other (the at-least-once CDC redelivery case); a duplicate arriving
    * later than the delay is by contract a new record.
    */
  def exactWithinWatermark(
      df: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      eventTimeCol: String,
      delay: String
  ): org.apache.spark.sql.DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Per key, reduce the micro-batch to its single max-version record
    * first, so output is independent of same-key arrival order within the
    * batch (versions [1,2] and [2,1] both emit exactly the version-2
    * record) — matching the batch twin Dedup.latestWins, which emits only
    * the max per key — then emit it only if it advances the stored
    * high-water mark.
    */
  private def latestWinsFold[K, V](version: V => Long) =
    new KeyedFold[K, V, Long, V]("hwm", Encoders.scalaLong, Long.MinValue)({ (_, hwm, rows) =>
      val emitted = rows.reduceOption((b, r) => if (version(r) > version(b)) r else b).filter(r => version(r) > hwm)
      (emitted.map(version), emitted.iterator)
    })

  /** `latestWins` on Spark 4's `transformWithState` (B171's migration
    * template applied to B2): same semantics as the fMGWS form below —
    * per key, emit only records that advance the version high-water mark,
    * batch-internal order independence included — but with a typed
    * `ValueState[Long]` handle and STORE-ENFORCED TTL (`TTLConfig`)
    * instead of hand-rolled timeout bookkeeping. Requires the RocksDB
    * state store provider (transformWithState's state layout is not
    * supported by the default HDFS-backed store); StatefulSpec proves
    * output parity between the two paths under it. State budget:
    * one Long per live key, expired by the store when a key goes cold.
    */
  def latestWinsTws[K, V](
      ds: Dataset[V],
      key: V => K,
      version: V => Long,
      ttl: TTLConfig = TTLConfig.NONE
  )(implicit ke: Encoder[K], ve: Encoder[V]): Dataset[V] =
    latestWinsFold[K, V](version).tws(ds, key, ttl, OutputMode.Append())

  /** Records that advance (key, version) survive; others are dropped. */
  def latestWins[K, V](
      ds: Dataset[V],
      key: V => K,
      version: V => Long,
      ttl: Option[java.time.Duration] = None
  )(implicit ke: Encoder[K], ve: Encoder[V], tupleEnc: Encoder[(K, V)]): Dataset[V] =
    latestWinsFold[K, V](version).fmgws(ds, key, ttl)
}
