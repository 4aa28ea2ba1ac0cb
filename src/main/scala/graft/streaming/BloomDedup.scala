package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Bounded-memory streaming dedup on a per-key Bloom filter
  * (SURVEY.md §2 B200) — the 100 TB answer to "drop ids we've already
  * seen" when exact per-id state is unbounded: `dropDuplicates` keeps a
  * fingerprint PER ID forever (or per watermark window, B1s), while this
  * operator keeps a FIXED `mBits`-bit filter per key, whatever the id
  * cardinality. The trade is explicit and one-sided:
  *
  *  - a true duplicate is NEVER emitted twice (Bloom has no false
  *    negatives — once inserted, always "maybe seen");
  *  - a genuinely new id is falsely dropped at the Bloom FP rate
  *    (~(1 − e^(−kn/m))^k, ~0.24 % at n = m/16, k = 4), the documented
  *    price of O(1) state.
  *
  * That asymmetry is the right one for training-data ingestion: a
  * duplicate that slips through poisons dedup guarantees downstream,
  * while a rare false drop loses one record from an over-sampled
  * stream. For exactly-correct dedup within a bounded lateness window
  * use `StatefulDedup.exactWithinWatermark`; this operator is for keys
  * whose id stream is unbounded and too hot for per-id state.
  *
  * Hashing: k probe positions from two xxhash64-style mixes of the id
  * (Kirsch–Mitzenmacher double hashing, h1 + i·h2 mod m) — fully
  * deterministic, replay-stable. State: one byte array per key, expired
  * whole by the store TTL when the key goes cold.
  */
object BloomDedup {

  /** Deterministic 64-bit mix (splitmix64 finalizer) — stable across
    * JVMs/replays, no dependency on String.hashCode.
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def hashId(id: String): Long = {
    var h = 0x51_7c_c1_b7_27_22_0a_95L
    var i = 0
    while (i < id.length) { h = mix64(h ^ id.charAt(i).toLong); i += 1 }
    h
  }

  /** Set the id's k probe bits; true iff all were already set (maybe seen). */
  private def insert(bits: Array[Byte], id: String, mBits: Int, k: Int): Boolean = {
    val h1 = hashId(id)
    val h2 = mix64(h1) | 1L // odd stride
    var maybeSeen = true
    var i = 0
    while (i < k) {
      val pos  = java.lang.Long.remainderUnsigned(h1 + i * h2, mBits.toLong).toInt
      val byte = pos >>> 3
      val mask = (1 << (pos & 7)).toByte
      if ((bits(byte) & mask) == 0) {
        maybeSeen = false
        bits(byte) = (bits(byte) | mask).toByte
      }
      i += 1
    }
    maybeSeen
  }

  /** @param ds    (key, id) rows — dedup ids within each key
    * @param mBits filter size per key in bits (must be a multiple of 8)
    * @param k     probe count
    * @return the (key, id) rows whose id was definitely not seen before
    */
  def perKey(
      ds: Dataset[(String, String)],
      mBits: Int = 8192,
      k: Int = 4,
      ttl: TTLConfig = TTLConfig.NONE
  ): Dataset[(String, String)] = {
    require(mBits > 0 && mBits % 8 == 0, s"mBits must be a positive multiple of 8, got $mBits")
    require(k >= 1 && k <= 16, s"k must be in [1, 16], got $k")
    val fold = new KeyedFold[String, (String, String), Array[Byte], (String, String)](
      "bloom", Encoders.BINARY, new Array[Byte](mBits / 8))({ (_, bits, rows) =>
      // in-batch order: sort by id so emission is a pure function of the
      // batch's id multiset (same discipline as Trending/Anomaly/Debounce)
      val out = rows.toSeq.sortBy(_._2).filter { case (_, id) => !insert(bits, id, mBits, k) }
      (Some(bits), out.iterator)
    })
    fold.tws(ds, _._1, ttl, OutputMode.Append())(Encoders.STRING, Encoders.tuple(Encoders.STRING, Encoders.STRING))
  }
}
