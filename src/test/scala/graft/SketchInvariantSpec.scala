package graft

import org.apache.spark.sql.functions._

/** Cross-implementation parity for the round-10 sketch queries: each
  * BATCH SQL result is replayed through a plain-Scala reference kernel
  * over the raw fixture data (a third, independent path beside the
  * DuckDB oracle).
  */
class SketchInvariantSpec extends GraftSpecBase {

  /** HDR log-bucket histogram over integer micro-units: bucket = v for
    * v < 16, else 16·(bitlen−1) + the 4 mantissa bits after the leading
    * 1; a quantile is the lower bound of the bucket where the cumulative
    * count first reaches ceil(q·n). Negatives clamp to bucket 0.
    */
  private object HistQuantiles {
    def bucketOf(xMicro: Long): Int = {
      val v = math.max(0L, xMicro)
      if (v < 16L) v.toInt
      else {
        val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(v)
        (((bitlen - 1) << 4) + ((v >>> (bitlen - 5)) & 15L)).toInt
      }
    }

    def lowerBound(b: Int): Long =
      if (b < 16) b.toLong else (16L + (b % 16)) << ((b / 16) - 4)

    /** ceil(q·n) as the integer (numQ·n + numQ) / denQ, as the query does. */
    def quantile(counts: Array[Long], n: Long, numQ: Long, denQ: Long): Long = {
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
  }

  /** KMV distinct count over 52-bit md5 prefixes: exact below k hashes,
    * else (k−1)·2⁵² / v_k.
    */
  private object KmvSketch {
    private val TwoPow52 = 4503599627370496L

    /** First 13 hex digits of md5(id), as the query's
      * `conv(substring(md5(id), 1, 13), 16, 10)`.
      */
    def hash52(id: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5").digest(id.getBytes("UTF-8"))
      var v = 0L
      var i = 0
      while (i < 6) { v = (v << 8) | (md(i) & 0xffL); i += 1 }
      (v << 4) | ((md(6) & 0xf0L) >>> 4)
    }

    def estimate(k: Int, sorted: Array[Long]): Long =
      if (sorted.length < k) sorted.length.toLong
      else (k - 1).toLong * TwoPow52 / sorted(k - 1)
  }

  test("events_latency_digest equals HistQuantiles' bucket kernels replayed over raw values") {
    val got = SparkEntry.queries("events_latency_digest")(spark, sf())
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val raw = Tables.events(spark, sf())
      .select(col("event_type"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    raw.foreach { case (tpe, values) =>
      val counts = new Array[Long](1024)
      values.foreach(x => counts(HistQuantiles.bucketOf(math.round(x * 1000000.0))) += 1L)
      val n = counts.sum
      val expected = (n,
        HistQuantiles.quantile(counts, n, 1, 2),
        HistQuantiles.quantile(counts, n, 9, 10),
        HistQuantiles.quantile(counts, n, 99, 100))
      assert(got(tpe) === expected, s"type $tpe")
    }
  }

  test("events_kmv_distinct equals KmvSketch's hash + estimate kernels over distinct users") {
    val got = SparkEntry.queries("events_kmv_distinct")(spark, sf())
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val raw = Tables.events(spark, sf())
      .select(col("event_type"), col("user_id")).distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    raw.foreach { case (tpe, users) =>
      val hashes = users.map(u => KmvSketch.hash52(u.toString)).distinct.sorted.toArray
      val exact = hashes.length.toLong
      val est = KmvSketch.estimate(64, hashes.take(64))
      assert(got(tpe) === ((exact, est)), s"type $tpe")
    }
  }
}
