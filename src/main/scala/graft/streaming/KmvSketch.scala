package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming KMV (k-minimum-values) distinct-count sketch on
  * `flatMapGroupsWithState` (SURVEY.md §2 B204) — the stream form of B203's
  * `events_kmv_distinct`: per key, the k smallest 52-bit md5 prefixes of
  * the ids seen so far, merged across micro-batches; after every touched
  * batch the key emits its refreshed estimate N ≈ (k−1)·2⁵² / v_k
  * (exact below k distinct hashes — identical math to the batch query).
  *
  * This is the bounded-state distinct counter for keys whose id stream
  * never ends: exact distinct state grows with cardinality,
  * `approx_count_distinct` is batch-only, while the KMV state is k longs
  * per key and MERGEABLE — two sketches union by keeping
  * the k smallest of both, so replays, repartitions and cross-stream
  * merges all land on identical estimates (a min-set is a commutative
  * idempotent aggregate; no in-batch sort needed).
  */
object KmvSketch {

  case class KeyEstimate(key: String, nSeen: Long, estimate: Long, kth: Long)

  private val TwoPow52 = 4503599627370496L

  /** 52-bit hash prefix: first 13 hex digits of md5(id) — bit-identical
    * to the batch query's `conv(substring(md5(id), 1, 13), 16, 10)`.
    */
  private[graft] def hash52(id: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(id.getBytes("UTF-8"))
    // first 13 hex digits = first 6.5 bytes, big-endian
    var v = 0L
    var i = 0
    while (i < 6) { v = (v << 8) | (md(i) & 0xffL); i += 1 }
    (v << 4) | ((md(6) & 0xf0L) >>> 4)
  }

  private[graft] def estimate(k: Int, sorted: Array[Long], nSeen: Long): (Long, Long) =
    if (sorted.length < k) (sorted.length.toLong, if (sorted.isEmpty) 0L else sorted.last)
    else ((k - 1).toLong * TwoPow52 / sorted(k - 1), sorted(k - 1))

  /** @param ds (key, id) rows — estimate distinct ids within each key */
  def perKey(
      ds: Dataset[(String, String)],
      k: Int = 64
  ): Dataset[KeyEstimate] = {
    require(k >= 2, s"k must be >= 2, got $k")
    // state: (sorted ascending k-min hash array, total rows seen)
    val stateEncoder = Encoders.tuple(ExpressionEncoder[Array[Long]](), Encoders.scalaLong)
    ds.groupByKey(_._1)(Encoders.STRING).flatMapGroupsWithState[(Array[Long], Long), KeyEstimate](
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: String, rows: Iterator[(String, String)], state: GroupState[(Array[Long], Long)]) =>
        val prev = state.getOption.getOrElse((Array.empty[Long], 0L))
        var seen = prev._2
        val incoming = rows.map { r => seen += 1; hash52(r._2) }.toArray
        // min-set union: commutative + idempotent, so arrival order and
        // batch boundaries cannot change the result
        val merged = (prev._1 ++ incoming).distinct.sorted.take(k)
        val (est, kth) = estimate(k, merged, seen)
        state.update((merged, seen))
        Iterator.single(KeyEstimate(key, seen, est, kth))
    }(stateEncoder, Encoders.product[KeyEstimate])
  }
}
