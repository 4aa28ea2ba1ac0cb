package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One per-key streaming fold — Structured Streaming's arbitrary stateful
  * processing as a single user function over (key, rows, state) — stated
  * once and run on `flatMapGroupsWithState`, the keyed-state API that runs
  * on both the default HDFS-backed and the RocksDB state store.
  *
  * An operator gives the state's encoder, the zero state of a key with
  * nothing stored, and a pure `step(key, state, rows)` that returns
  * `(next, output)`: `Some(next)` is stored, `None` leaves the stored state
  * untouched. `step` must have finished mutating its state when it returns
  * — the runner stores `next` before the output is read. The encoder and
  * the zero are by-name: each is built where it is used. Keeping an
  * operator's state encoder and output mode fixed keeps its existing
  * checkpoints restartable.
  *
  * [[fmgws]] runs the fold in the given output mode (Append for operators
  * that emit each record at most once, Update for operators that re-emit a
  * key's refreshed summary; it must match the sink's mode). A TTL (only
  * `StatefulDedup.latestWins` passes one) becomes a processing-time
  * timeout: a timed-out key's state is removed and emits nothing, and
  * after each step the timeout is refreshed only if the key still has
  * state. Spark hands a
  * key that has new data its stored state without `hasTimedOut`, so a
  * key's state is dropped only in a batch that runs past its TTL without
  * data for it (LatestWinsTtlSpec pins both cases).
  */
final class KeyedFold[K, V, S, O](stateEncoder: => Encoder[S], zero: => S)(
    step: (K, S, Iterator[V]) => (Option[S], Iterator[O])
) extends Serializable {

  def fmgws(ds: Dataset[V], key: V => K, ttl: Option[Duration], outputMode: OutputMode)(implicit
      ke: Encoder[K],
      oe: Encoder[O]
  ): Dataset[O] = {
    val timeoutMs = ttl.map(_.toMillis)
    val timeout   = if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    ds.groupByKey(key).flatMapGroupsWithState[S, O](outputMode, timeout) {
      (k: K, rows: Iterator[V], state: GroupState[S]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val (next, out) = step(k, state.getOption.getOrElse(zero), rows)
          next.foreach(state.update)
          if (state.exists) timeoutMs.foreach(ms => state.setTimeoutDuration(ms))
          out
        }
    }(stateEncoder, oe)
  }
}

object KeyedFold {

  /** Array state encoders shared by the sketch operators. */
  private[streaming] def longArrays: Encoder[Array[Long]]     = ExpressionEncoder[Array[Long]]()
  private[streaming] def stringArrays: Encoder[Array[String]] = ExpressionEncoder[Array[String]]()
}
