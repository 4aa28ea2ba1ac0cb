package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Running per-key aggregates on Spark 4's `transformWithState` — the
  * arbitrary-state API that supersedes flatMapGroupsWithState: typed state
  * handles (`ValueState`/`MapState`/`ListState`) with per-state TTL,
  * timers, and a RocksDB-backed store. One `ValueState[(n, Σx, Σx²)]` per
  * key, updated per batch, emitting the refreshed running stats row in
  * Update mode. The state plumbing — handle, TTL, time mode and the
  * flatMapGroupsWithState form the fMGWS twins also run — is
  * [[KeyedFold]]; this file states only the fold.
  *
  * State budget: three numbers per live key, expired by the store after
  * `ttl` of no updates (TTLConfig is enforced by the state store itself —
  * no hand-rolled timeout bookkeeping).
  *
  * Requires the RocksDB state store provider
  * (`spark.sql.streaming.stateStore.providerClass` =
  * `...state.RocksDBStateStoreProvider`) — transformWithState's state
  * layout is not supported by the default HDFS-backed store.
  */
object RunningStats {

  /** Emitted after every batch that touches the key. */
  case class KeyStats(key: String, n: Long, total: Double, mean: Double)

  def perKey(
      ds: Dataset[(String, Double)],
      ttl: TTLConfig = TTLConfig.NONE
  ): Dataset[KeyStats] = {
    val fold = new KeyedFold[String, (String, Double), (Long, Double, Double), KeyStats](
      "moments", Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaDouble), (0L, 0.0, 0.0))({
      (key, moments, rows) =>
        var (n, s1, s2) = moments
        rows.foreach { case (_, x) => n += 1; s1 += x; s2 += x * x }
        (Some((n, s1, s2)), Iterator.single(KeyStats(key, n, s1, if (n == 0) 0.0 else s1 / n)))
    })
    fold.tws(ds, _._1, ttl, OutputMode.Update())(Encoders.STRING, Encoders.product[KeyStats])
  }
}
