package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming latest-wins compaction (SURVEY.md §2 B2, streaming form) —
  * the reference's `@Version` optimistic-lock counter as unbounded keyed
  * state: per key, emit a record only when its version advances past the
  * stored high-water mark. Out-of-order and duplicate CDC records are
  * suppressed.
  *
  * State is one Long per key on `flatMapGroupsWithState` in Append mode,
  * which runs on both the default HDFS-backed and the RocksDB state store.
  * At 100 TB keyspace that still fits the state store budget (8 bytes ×
  * keys, RocksDB-backed on a real cluster), but unbounded keys need a TTL
  * policy: pass `ttl` to drop idle keys via a processing-time timeout. A
  * key's mark is dropped in the first batch that runs past its TTL
  * WITHOUT data for that key; a key whose next record arrives first gets
  * its stored mark and keeps suppressing. So only a key that stays silent
  * through such a batch re-emits its next record even if the version
  * regressed (LatestWinsTtlSpec pins both cases).
  */
object StatefulDedup {

  /** Records that advance (key, version) survive; others are dropped.
    *
    * Per key, the micro-batch is reduced to its single max-version record
    * first, so output is independent of same-key arrival order within the
    * batch (versions [1,2] and [2,1] both emit exactly the version-2
    * record) — matching the batch twin Dedup.latestWins, which emits only
    * the max per key — then emitted only if it advances the stored mark
    * (`Long.MinValue` for a key with nothing stored). A timed-out key's
    * mark is removed and it emits nothing; after each batch the timeout is
    * refreshed only if the key still has a mark. The state encoder and the
    * output mode are part of the checkpoint: changing either makes
    * existing checkpoints unrestartable.
    *
    * `ttl` must be at least one millisecond, the state store's timeout
    * unit; a shorter one fails here rather than in the first batch.
    */
  def latestWins[K, V](
      ds: Dataset[V],
      key: V => K,
      version: V => Long,
      ttl: Option[Duration] = None
  )(implicit ke: Encoder[K], ve: Encoder[V]): Dataset[V] = {
    require(ttl.forall(_.toMillis > 0), s"ttl must be at least 1 ms, got ${ttl.orNull}")
    val timeoutMs = ttl.map(_.toMillis)
    val timeout   = if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    ds.groupByKey(key).flatMapGroupsWithState[Long, V](OutputMode.Append, timeout) {
      (_: K, rows: Iterator[V], state: GroupState[Long]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val hwm     = state.getOption.getOrElse(Long.MinValue)
          val emitted = rows.reduceOption((b, r) => if (version(r) > version(b)) r else b).filter(r => version(r) > hwm)
          emitted.foreach(r => state.update(version(r)))
          if (state.exists) timeoutMs.foreach(ms => state.setTimeoutDuration(ms))
          emitted.iterator
        }
    }(Encoders.scalaLong, ve)
  }
}
