package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming HDR-histogram quantiles on `flatMapGroupsWithState`
  * (SURVEY.md §2 B202) — the stream form of B201's
  * `events_latency_digest`: per key, a FIXED 1024-counter log-bucket
  * histogram (16 sub-buckets per octave over integer micro-units)
  * accumulated across micro-batches, emitting refreshed
  * (n, p50, p90, p99) after every batch that touches the key.
  *
  * Why this and not exact percentiles: an exact stream percentile needs
  * every value retained (unbounded state); a moments sketch
  * (count, mean, variance) can't answer tail quantiles. The HDR histogram is the
  * standard latency-telemetry answer — O(1) state per key (8 KB), a
  * PROVEN ≤ 6.25% relative error (values within a bucket span
  * [lb, lb·17/16)), and — because the state is a commutative integer
  * counter array — emission is a pure function of the value multiset:
  * arrival order, batch boundaries, and replay all produce identical
  * digests, with no in-batch sort needed.
  *
  * Bucketing matches the batch query bit-for-bit: v = round(x·10⁶) as
  * a long; bucket = v for v < 16, else 16·(bitlen−1) + the 4 mantissa
  * bits after the leading 1; reported quantiles are bucket lower
  * bounds. Values must be non-negative (negatives clamp to bucket 0).
  */
object HistQuantiles {

  case class KeyDigest(key: String, n: Long, p50Micro: Long, p90Micro: Long, p99Micro: Long)

  private val NBuckets = 1024

  private[graft] def bucketOf(xMicro: Long): Int = {
    val v = math.max(0L, xMicro)
    if (v < 16L) v.toInt
    else {
      val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(v)
      (((bitlen - 1) << 4) + ((v >>> (bitlen - 5)) & 15L)).toInt
    }
  }

  private[graft] def lowerBound(b: Int): Long =
    if (b < 16) b.toLong else (16L + (b % 16)) << ((b / 16) - 4)

  /** Quantile q as the lower bound of the bucket where the cumulative
    * count first reaches ceil(q·n) — written as integer arithmetic
    * (numQ·n + numQ) / denQ matching the batch oracle exactly.
    */
  private[graft] def quantile(counts: Array[Long], n: Long, numQ: Long, denQ: Long): Long = {
    val target = (numQ * n + numQ) / denQ
    var cum = 0L
    var b = 0
    while (b < counts.length) {
      cum += counts(b)
      if (cum >= target) return lowerBound(b)
      b += 1
    }
    0L
  }

  /** @param ds (key, value) rows; values non-negative (micro-unit snap) */
  def perKey(
      ds: Dataset[(String, Double)]
  ): Dataset[KeyDigest] = {
    ds.groupByKey(_._1)(Encoders.STRING).flatMapGroupsWithState[Array[Long], KeyDigest](
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: String, rows: Iterator[(String, Double)], state: GroupState[Array[Long]]) =>
        val counts = state.getOption.getOrElse(new Array[Long](NBuckets))
        // no sort needed: the histogram is a commutative integer aggregate
        rows.foreach { case (_, x) =>
          counts(bucketOf(math.round(x * 1000000.0))) += 1L
        }
        val n = counts.sum
        state.update(counts)
        Iterator.single(KeyDigest(
          key, n,
          quantile(counts, n, 1, 2),
          quantile(counts, n, 9, 10),
          quantile(counts, n, 99, 100)
        ))
    }(ExpressionEncoder[Array[Long]](), Encoders.product[KeyDigest])
  }
}
