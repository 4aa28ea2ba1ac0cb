package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming Count-Min Sketch heavy hitters on `flatMapGroupsWithState`
  * (SURVEY.md §2 B209) — the stream form of B208's `events_cms_topk`:
  * per key, a d×w counter grid plus a bounded top-m candidate list;
  * after every touched batch the key emits its refreshed heavy-hitter
  * list with CMS estimates.
  *
  * This is the bounded-state frequency tracker for keys whose id stream
  * never ends: exact per-id counting grows with id cardinality, while
  * CMS state is d·w + m values per key and MERGEABLE —
  * counter grids add cell-wise, so replays, repartitions and cross-
  * stream merges land on identical counters.
  *
  * Order discipline: the batch is folded
  * counters-first — ALL increments land in the grid before ANY estimate
  * is read — and the candidate refresh then scores the closed pool
  * (previous candidates ∪ ids touched this batch) against the settled
  * grid, taking top-m by (estimate DESC, id ASC). The emission is a pure
  * function of (previous state, batch multiset); within-batch arrival
  * order cannot change it. Cross-batch, the candidate list is the
  * standard CMS+heap approximation: an id can only enter in a batch that
  * touches it (documented, spec-pinned).
  *
  * CMS never undercounts (estimate ≥ true count for any id whose whole
  * history the grid saw), so the emitted estimates are upper bounds with
  * the usual εN overshoot.
  */
object CmsHeavyHitters {

  case class HeavyHitter(key: String, id: String, estimate: Long, rank: Int)

  /** Bucket of id under hash row r — bit-identical to the batch query's
    * `conv(substring(md5(concat(r, ':', id)), 1, 13), 16, 10) % w`
    * (KmvSketch.hash52 is the shared 52-bit md5-prefix kernel).
    */
  private[graft] def bucket(r: Int, id: String, w: Int): Int =
    (KmvSketch.hash52(s"$r:$id") % w).toInt

  private def estimate(grid: Array[Long], id: String, d: Int, w: Int): Long = {
    var best = Long.MaxValue
    var r    = 0
    while (r < d) {
      val c = grid(r * w + bucket(r, id, w))
      if (c < best) best = c
      r += 1
    }
    best
  }

  /** @param ds (key, id) rows — track the top-m most frequent ids per key */
  def perKey(
      ds: Dataset[(String, String)],
      d: Int = 4,
      w: Int = 512,
      m: Int = 10
  ): Dataset[HeavyHitter] = {
    require(d >= 1 && w >= 2 && m >= 1, s"bad CMS geometry d=$d w=$w m=$m")
    // (flattened d×w counter grid, current candidate ids)
    val fold = new KeyedFold[String, (String, String), (Array[Long], Array[String]), HeavyHitter](
      Encoders.tuple(KeyedFold.longArrays, KeyedFold.stringArrays),
      (new Array[Long](d * w), Array.empty[String]))({
      (key, prev, rows) =>
        val (grid, prevCands) = prev
        // phase 1: settle the grid — addition commutes, order-free
        val touched = scala.collection.mutable.LinkedHashSet.empty[String]
        rows.foreach { row =>
          val id = row._2
          touched += id
          var r = 0
          while (r < d) { grid(r * w + bucket(r, id, w)) += 1L; r += 1 }
        }
        // phase 2: score the closed pool against the settled grid
        val pool = (prevCands.iterator ++ touched.iterator).toSet.toArray
        val top = pool
          .map(id => (id, estimate(grid, id, d, w)))
          .sortBy { case (id, est) => (-est, id) }
          .take(m)
        (Some((grid, top.map(_._1))), top.iterator.zipWithIndex.map { case ((id, est), i) =>
          HeavyHitter(key, id, est, i + 1)
        })
    })
    fold.fmgws(ds, _._1, None, OutputMode.Update)(Encoders.STRING, Encoders.product[HeavyHitter])
  }
}
