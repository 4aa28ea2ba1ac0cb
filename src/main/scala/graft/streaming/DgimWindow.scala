package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming DGIM sliding-window counter on `flatMapGroupsWithState`
  * (SURVEY.md §2 B212) — "how many events did this key see in the last
  * W milliseconds?" answered with O(log² W) state instead of a
  * per-event buffer (Datar–Gionis–Indyk–Motwani, SODA 2002 — public
  * literature).
  *
  * State per key is a list of exponentially-sized buckets, each
  * (latest-event-ts, size 2^j), at most `r` buckets per size; when a
  * size overflows, the two OLDEST buckets of that size merge into one
  * of double size carrying the newer timestamp. The window estimate
  * sums every bucket whose timestamp is inside the window, counting the
  * oldest such bucket at HALF its size — the classic bound: relative
  * error ≤ 1/(2(r−1)) of the true in-window count (r=4 → ≤ 16.7%),
  * exact while every in-window bucket still has size 1.
  *
  * Order discipline (the event-time sort rule): the batch's rows are
  * sorted by event time before insertion, so emission is a pure
  * function of (state, batch multiset) — within-batch arrival order
  * cannot change it. The window is EVENT-time anchored at the maximum
  * timestamp seen so far (asOf), so replays land on identical answers.
  *
  * Why not engine windowed aggregation: a watermarked sliding window
  * emits per-window rows and keeps every open window's aggregate; DGIM
  * answers "right now, over the trailing W" continuously with
  * logarithmic state and no window-grid alignment — the rate-limiter /
  * load-shedder shape, not the analytics-table shape.
  */
object DgimWindow {

  case class WindowEstimate(key: String, asOf: Long, estimate: Long, nBuckets: Int)

  /** buckets: ts ascending (oldest first), sizes non-increasing in time;
    * stored flattened [ts0, size0, ts1, size1, ...] for a stable encoder.
    */
  private[graft] def insert(buckets: Vector[(Long, Long)], ts: Long, r: Int): Vector[(Long, Long)] = {
    // place the new singleton at its ts position (a late event must not
    // break the "head is oldest" invariant estimate() relies on; ties go
    // after existing equal-ts buckets)
    var bs = {
      val at = buckets.indexWhere(_._1 > ts)
      if (at < 0) buckets :+ ((ts, 1L)) else (buckets.take(at) :+ ((ts, 1L))) ++ buckets.drop(at)
    }
    // cascade: while more than r buckets of size s, merge the two oldest.
    // The merged bucket stays AT THE OLDER SLOT (position i1), not at its
    // raw-ts sort position: buckets partition the event sequence by
    // CONTENT order, and only position-preserving merges keep that
    // contiguity — a ts-sorted re-placement can float a merged bucket
    // past same-ts singletons to the newest end, where it escapes the
    // oldest-bucket half-size correction and breaks the error bound
    // (caught by the kernel property test).
    var size = 1L
    var done = false
    while (!done) {
      val idxs = bs.zipWithIndex.filter(_._1._2 == size).map(_._2)
      if (idxs.length > r) {
        val i1 = idxs(0) // oldest
        val i2 = idxs(1)
        val merged = (math.max(bs(i1)._1, bs(i2)._1), size * 2)
        bs = bs.updated(i1, merged).zipWithIndex.collect {
          case (b, i) if i != i2 => b
        }
        size *= 2
      } else done = true
    }
    bs
  }

  private[graft] def expire(buckets: Vector[(Long, Long)], asOf: Long, windowMs: Long): Vector[(Long, Long)] =
    buckets.filter(_._1 > asOf - windowMs)

  private[graft] def estimate(buckets: Vector[(Long, Long)]): Long =
    if (buckets.isEmpty) 0L
    else buckets.map(_._2).sum - buckets.head._2 / 2

  /** @param ds (key, eventTimeMs) rows — estimate each key's count over
    *   the trailing `windowMs`, anchored at the key's max event time
    * @param r max buckets per size; error ≤ 1/(2(r−1))
    */
  def perKey(
      ds: Dataset[(String, Long)],
      windowMs: Long,
      r: Int = 4
  ): Dataset[WindowEstimate] = {
    require(windowMs > 0 && r >= 2, s"bad DGIM geometry windowMs=$windowMs r=$r")
    // (flattened bucket list [ts, size, ...], asOf high-water mark)
    val fold = new KeyedFold[String, (String, Long), (Array[Long], Long), WindowEstimate](
      Encoders.tuple(KeyedFold.longArrays, Encoders.scalaLong), (Array.empty[Long], Long.MinValue))({
      (key, prev, rows) =>
        var buckets = prev._1.grouped(2).map(a => (a(0), a(1))).toVector
        var asOf    = prev._2
        // in-batch event-time sort: emission must be a pure function of the
        // timestamp multiset, not of shuffle iterator order
        rows.map(_._2).toArray.sorted.foreach { ts =>
          if (ts > asOf) asOf = ts
          // DGIM assumes in-order arrival; a late event (ts < asOf) still
          // inserts — its bucket carries its own ts and expires correctly,
          // the estimate stays an ε-approximation of the multiset count
          buckets = insert(buckets, ts, r)
        }
        buckets = expire(buckets, asOf, windowMs)
        (Some((buckets.flatMap(b => Seq(b._1, b._2)).toArray, asOf)),
          Iterator.single(WindowEstimate(key, asOf, estimate(buckets), buckets.length)))
    })
    fold.fmgws(ds, _._1, None, OutputMode.Update)(Encoders.STRING, Encoders.product[WindowEstimate])
  }
}
