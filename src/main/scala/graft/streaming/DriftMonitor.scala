package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Streaming distribution-drift monitor on `transformWithState`
  * (SURVEY.md §2 B231) — the ONLINE companion to the batch drift
  * family: per key, the observed value distribution accumulates into
  * B201's 1024-bucket HDR log histogram (shared `HistQuantiles`
  * kernel), and after every touched batch the key emits its PSI
  * (micro-units, B228's statistic) and KS distance (ppm, B224's
  * statistic) against a caller-supplied REFERENCE distribution — the
  * training-time / last-known-good histogram. The batch queries answer
  * "did yesterday drift"; this pages mid-stream when the live feature
  * distribution walks away from what the model was trained on.
  *
  * Determinism: the state is a counter array (addition commutes — no
  * in-batch sort needed), and both statistics are pure integer
  * functions of (counters, reference), so emission is a pure function
  * of (state, batch multiset) and replays reproduce identical scores.
  * PSI uses the same conventions as B228: shares in ppm with a 1-count
  * floor on empty observed cells (reference cells absent from the map
  * get a 1-ppm floor), per-bucket ln snapped to micro-nats before the
  * weighted sum.
  *
  * State budget: one 1024-long array (8 KB) per key, TTL-expirable —
  * O(live keys), never O(values).
  */
object DriftMonitor {

  case class DriftScore(key: String, n: Long, psiMicro: Long, ksPpm: Long)

  /** PSI in micro-units between observed counters and reference ppm
    * shares. Both distributions are floored (observed: 1-count; missing
    * reference cell: 1 ppm) so the log is always finite — the B228
    * convention.
    */
  private[graft] def psiMicro(counts: Array[Long], n: Long, refPpm: Map[Int, Long]): Long = {
    if (n <= 0) return 0L
    var acc = 0L
    var b = 0
    while (b < counts.length) {
      val cRef = refPpm.getOrElse(b, 0L)
      if (counts(b) > 0 || cRef > 0) {
        val p = math.max(counts(b), 1L) * 1000000L / n
        val q = math.max(cRef, 1L)
        val lnMicro = math.rint(math.log(p.toDouble / q.toDouble) * 1e6).toLong // micro-nat snap
        acc += (p - q) * lnMicro / 1000000L
      }
      b += 1
    }
    acc
  }

  /** KS distance in ppm: max over bucket boundaries of |cdf_obs − cdf_ref|. */
  private[graft] def ksPpm(counts: Array[Long], n: Long, refPpm: Map[Int, Long]): Long = {
    if (n <= 0) return 0L
    var best = 0L
    var cumObs = 0L
    var cumRef = 0L
    var b = 0
    while (b < counts.length) {
      cumObs += counts(b)
      cumRef += refPpm.getOrElse(b, 0L)
      val gap = math.abs(cumObs * 1000000L / n - cumRef)
      if (gap > best) best = gap
      b += 1
    }
    best
  }

  /** @param ds (key, valueMicro) rows
    * @param referencePpm bucket → ppm share of the reference distribution
    *   (B201 bucket indexing; shares should sum to ~1e6)
    */
  def perKey(
      ds: Dataset[(String, Long)],
      referencePpm: Map[Int, Long],
      ttl: TTLConfig = TTLConfig.NONE
  ): Dataset[DriftScore] = {
    require(referencePpm.nonEmpty, "reference distribution must be non-empty")
    require(referencePpm.keys.forall(b => b >= 0 && b < 1024), "reference buckets must be in [0, 1024)")
    val fold = new KeyedFold[String, (String, Long), Array[Long], DriftScore](
      "driftHist", KeyedFold.longArrays, new Array[Long](1024))({ (key, counts, rows) =>
      rows.foreach { case (_, xMicro) => counts(HistQuantiles.bucketOf(xMicro)) += 1L }
      val n = counts.sum
      val score = DriftScore(key, n, psiMicro(counts, n, referencePpm), ksPpm(counts, n, referencePpm))
      (Some(counts), Iterator.single(score))
    })
    fold.tws(ds, _._1, ttl, OutputMode.Update())(Encoders.STRING, Encoders.product[DriftScore])
  }
}
