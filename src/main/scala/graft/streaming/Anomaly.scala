package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Streaming z-score anomaly detection — the streaming counterpart of the
  * batch `events_anomaly` query (SURVEY.md §2 B23). The batch form scores
  * each hour against the WHOLE series' moments; a stream cannot see the
  * future, so this twin scores each record against the moments of
  * everything seen BEFORE it (prefix statistics) — the standard online
  * monitor semantics. A record is flagged when at least `minPrior` records
  * preceded it on its key and |x − μ_prior| ≥ threshold · σ_prior; every
  * record then folds into the state whether or not it was flagged.
  *
  * State per key is three numbers (n, Σx, Σx²) — O(keys) like the other
  * stateful operators; `ttl` expires idle keys. Within a micro-batch,
  * records are processed in (ts, order) order, so emission is independent
  * of in-batch arrival order (the Debounce/StatefulDedup contract);
  * records arriving late ACROSS batches are scored against the state as
  * of arrival — an online monitor's unavoidable trade-off, documented
  * rather than hidden.
  */
object Anomaly {

  /** (n, Σx, Σx²) prefix state. */
  case class Moments(n: Long, s1: Double, s2: Double)

  /** Prefix-moments scoring of one key's batch slice in (ts, order) order. */
  private def zScoreFold[K, V](ts: V => Long, order: V => Long, value: V => Double, threshold: Double, minPrior: Int) =
    new KeyedFold[K, V, Moments, (V, Double)]("moments", Encoders.product[Moments], Moments(0L, 0.0, 0.0))({
      (_, prev, rows) =>
        var m       = prev
        val flagged = Vector.newBuilder[(V, Double)]
        rows.toVector.sortBy(r => (ts(r), order(r))).foreach { r =>
          val x = value(r)
          if (m.n >= minPrior) {
            val mean = m.s1 / m.n
            val varP = m.s2 / m.n - mean * mean
            if (varP > 0.0) {
              val z = (x - mean) / math.sqrt(varP)
              if (math.abs(z) >= threshold) flagged += ((r, z))
            }
          }
          m = Moments(m.n + 1, m.s1 + x, m.s2 + x * x)
        }
        (Some(m), flagged.result().iterator)
    })

  /** `zScore` on Spark 4's `transformWithState` — same prefix-moments
    * online-monitor semantics as the fMGWS form below, with the (n, Σx,
    * Σx²) record in a typed `ValueState[Moments]` and store-enforced TTL.
    * fMGWS is the deprecated path in Spark 4; TwsMigrationSpec proves
    * output parity under RocksDB.
    */
  def zScoreTws[K, V](
      ds: Dataset[V],
      key: V => K,
      ts: V => Long,
      order: V => Long,
      value: V => Double,
      threshold: Double = 3.0,
      minPrior: Int = 5,
      ttl: TTLConfig = TTLConfig.NONE
  )(implicit ke: Encoder[K], ve: Encoder[V], outEnc: Encoder[(V, Double)]): Dataset[(V, Double)] =
    zScoreFold[K, V](ts, order, value, threshold, minPrior).tws(ds, key, ttl, OutputMode.Append())

  /** Returns flagged records with their z-score. */
  def zScore[K, V](
      ds: Dataset[V],
      key: V => K,
      ts: V => Long,
      order: V => Long,
      value: V => Double,
      threshold: Double = 3.0,
      minPrior: Int = 5,
      ttl: Option[java.time.Duration] = None
  )(implicit
      ke: Encoder[K],
      ve: Encoder[V],
      outEnc: Encoder[(V, Double)]
  ): Dataset[(V, Double)] =
    zScoreFold[K, V](ts, order, value, threshold, minPrior).fmgws(ds, key, ttl)
}
