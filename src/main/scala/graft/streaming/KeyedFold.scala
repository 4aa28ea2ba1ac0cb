package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** One per-key streaming fold — Structured Streaming's arbitrary stateful
  * processing as a single user function over (key, rows, state) — stated
  * once and run on either of Spark's keyed-state APIs.
  *
  * An operator gives the state variable's name and encoder, the zero state
  * of a key with nothing stored, and a pure `step(key, state, rows)` that
  * returns `(next, output)`: `Some(next)` is stored, `None` leaves the
  * stored state untouched. `step` must have finished mutating its state
  * when it returns — the runner stores `next` before the output is read.
  * The encoder and the zero are by-name: each is built where it is used,
  * so `tws` builds the encoder on the executor at state registration (a
  * bare `ExpressionEncoder[Array[Long]]` does not survive being shipped).
  * Keeping an operator's state name, encoder and output mode fixed keeps
  * its existing checkpoints restartable.
  *
  *  - [[tws]] runs the fold on `transformWithState`: one typed
  *    `ValueState` with store-enforced TTL. TTL'd state needs the
  *    processing-time mode (`TimeMode.None` plus a TTL throws at state
  *    registration), so the time mode is derived from the TTL here and
  *    "TTL-expirable" holds by construction. Needs the RocksDB state store
  *    provider; the default HDFS-backed store cannot hold its state layout.
  *  - [[fmgws]] runs it on `flatMapGroupsWithState` in Append mode, the
  *    form the default store supports. A TTL becomes a processing-time
  *    timeout: a timed-out key's state is removed and emits nothing, and
  *    after each step the timeout is refreshed only if the key still has
  *    state.
  */
final class KeyedFold[K, V, S, O](stateName: String, stateEncoder: => Encoder[S], zero: => S)(
    step: (K, S, Iterator[V]) => (Option[S], Iterator[O])
) extends Serializable {

  private class Processor(ttl: TTLConfig) extends StatefulProcessor[K, V, O] {
    @transient private var state: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[S](stateName, stateEncoder, ttl)

    override def handleInputRows(key: K, rows: Iterator[V], timerValues: TimerValues): Iterator[O] = {
      val (next, out) = step(key, if (state.exists()) state.get() else zero, rows)
      next.foreach(state.update)
      out
    }
  }

  def tws(ds: Dataset[V], key: V => K, ttl: TTLConfig, outputMode: OutputMode)(implicit
      ke: Encoder[K],
      oe: Encoder[O]
  ): Dataset[O] = {
    val timeMode = if (ttl == null || ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    ds.groupByKey(key).transformWithState(new Processor(ttl), timeMode, outputMode)
  }

  def fmgws(ds: Dataset[V], key: V => K, ttl: Option[Duration])(implicit
      ke: Encoder[K],
      oe: Encoder[O]
  ): Dataset[O] = {
    val timeoutMs = ttl.map(_.toMillis)
    val timeout   = if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    ds.groupByKey(key).flatMapGroupsWithState[S, O](OutputMode.Append, timeout) {
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
