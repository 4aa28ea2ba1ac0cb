package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Streaming funnel detection — the stateful-pattern-match (CEP) shape
  * over a keyed event stream: per key, advance through an ordered stage
  * list as matching events arrive (non-contiguous — other events in
  * between are fine) and emit exactly one completion record when the last
  * stage is reached. The batch twin is the `events_funnel` query (ordered
  * sequence aggregation + regexp); this form answers while the stream
  * runs instead of per corpus pass.
  *
  * State per key is one Int (the next-stage index, with a completed
  * sentinel) — constant-size state at any keyspace, same budget argument
  * as [[StatefulDedup.latestWins]]; `ttl` drops idle keys for unbounded
  * keyspaces.
  *
  * Within a micro-batch, records are ordered by (eventMs, stage) before
  * matching, so batch boundaries don't change the outcome for distinctly
  * timestamped events (the at-least-once CDC case: a replayed batch
  * re-matches identically because completed keys never re-emit).
  */
object FunnelDetector {

  /** Advance one key's next-stage index over its batch slice in
    * deterministic (eventMs, stage) order; a completed key is left as is.
    */
  private def funnelFold[K, V](stage: V => String, eventMs: V => Long, stages: Seq[String]) = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val completed = stages.length
    new KeyedFold[K, V, Int, (K, Long)]("idx", Encoders.scalaInt, 0)({ (key, prev, rows) =>
      if (prev >= completed) (None, Iterator.empty)
      else {
        var idx = prev
        var hit: Option[Long] = None
        rows.toSeq.sortBy(r => (eventMs(r), stage(r))).foreach { r =>
          if (idx < completed && stage(r) == stages(idx)) {
            idx += 1
            if (idx == completed) hit = Some(eventMs(r))
          }
        }
        (Some(idx), hit.map(ms => (key, ms)).iterator)
      }
    })
  }

  /** `detect` on Spark 4's `transformWithState` — same CEP contract as the
    * fMGWS form below (one completion per key ever, non-contiguous stage
    * advance, in-batch (eventMs, stage) determinism) with the next-stage
    * index in a typed `ValueState[Int]` and store-enforced TTL. fMGWS is
    * the deprecated path in Spark 4; TwsMigrationSpec proves output parity
    * under RocksDB.
    */
  def detectTws[K, V](
      ds: Dataset[V],
      key: V => K,
      stage: V => String,
      eventMs: V => Long,
      stages: Seq[String],
      ttl: TTLConfig = TTLConfig.NONE
  )(implicit ke: Encoder[K], ve: Encoder[V], outEnc: Encoder[(K, Long)]): Dataset[(K, Long)] =
    funnelFold[K, V](stage, eventMs, stages).tws(ds, key, ttl, OutputMode.Append())

  /** One completion per key: the key and the timestamp of the event that
    * completed the funnel.
    */
  def detect[K, V](
      ds: Dataset[V],
      key: V => K,
      stage: V => String,
      eventMs: V => Long,
      stages: Seq[String],
      ttl: Option[java.time.Duration] = None
  )(implicit
      ke: Encoder[K],
      ve: Encoder[V],
      outEnc: Encoder[(K, Long)]
  ): Dataset[(K, Long)] =
    funnelFold[K, V](stage, eventMs, stages).fmgws(ds, key, ttl)
}
