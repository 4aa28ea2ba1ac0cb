package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Streaming Space-Saving top-m on `transformWithState` (SURVEY.md §2
  * B218) — the DETERMINISTIC-guarantee streaming frequency tracker
  * beside B209's CMS: m counters per key, no hashing, and per-entry
  * error bounds carried AS STATE, so every emission can say not just
  * "roughly this many" but "between est−err and est, and anything
  * untracked is ≤ the smallest tracked count" (Metwally, Agrawal, El
  * Abbadi 2005; mergeable per Agarwal et al., PODS'12 — Space-Saving
  * and Misra–Gries (B214) are isomorphic summaries).
  *
  * Batch fold (the Anomaly/Debounce discipline): the batch's rows are
  * first reduced to EXACT per-id counts (bounded by the batch's distinct
  * ids), then merged into the summary as weighted inserts in
  * (batch count DESC, id ASC) order — so the emission is a pure
  * function of (previous state, batch multiset) and within-batch
  * arrival order cannot change it. A weighted insert of (id, c):
  * tracked → count += c; room → new entry (c, err 0); full → evict the
  * (count ASC, id DESC)-min entry e, enter as (e.count + c, err
  * e.count). The three invariants survive weighting: Σ(count−err) =
  * rows seen, every tracked est ∈ [true, true + err], and any UNTRACKED
  * id's true count ≤ min tracked count — which is what makes
  * `est − err ≥ next est` a PROOF of top-rank membership, the claim CMS
  * can only make probabilistically.
  *
  * Cross-batch, which sub-threshold ids are tracked is legitimately
  * history-dependent (any bounded summary's is); the guarantees above
  * are not, and the spec pins them against exact counts.
  */
object SpaceSaving {

  /** One tracked id: `estimate` ∈ [true, true + error]; `guaranteed` is
    * 1 when est − err ≥ the (rank+1)-th estimate — rank membership
    * proven, not estimated.
    */
  case class TrackedItem(key: String, id: String, estimate: Long, error: Long, rank: Int, guaranteed: Int)

  /** @param ds (key, id) rows — track the top-m ids per key with proofs */
  def perKey(
      ds: Dataset[(String, String)],
      m: Int = 10,
      ttl: TTLConfig = TTLConfig.NONE
  ): Dataset[TrackedItem] = {
    require(m >= 1, s"space-saving needs m >= 1 counters (got $m)")
    // parallel arrays (ids, counts, errors) — one bounded summary per key
    val fold = new KeyedFold[String, (String, String), (Array[String], Array[Long], Array[Long]), TrackedItem](
      "spacesaving",
      Encoders.tuple(KeyedFold.stringArrays, KeyedFold.longArrays, KeyedFold.longArrays),
      (Array.empty[String], Array.empty[Long], Array.empty[Long]))({ (key, prev, rows) =>
      val (ids0, cnts0, errs0) = prev
      val summary = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
      var i = 0
      while (i < ids0.length) { summary.put(ids0(i), (cnts0(i), errs0(i))); i += 1 }
      // phase 1: exact batch counts — order-free by construction
      val batchCounts = scala.collection.mutable.HashMap.empty[String, Long]
      rows.foreach { row =>
        batchCounts.update(row._2, batchCounts.getOrElse(row._2, 0L) + 1L)
      }
      // phase 2: weighted inserts in deterministic (count desc, id asc) order
      batchCounts.toSeq.sortBy { case (id, c) => (-c, id) }.foreach { case (id, c) =>
        summary.get(id) match {
          case Some((cnt, err)) => summary.put(id, (cnt + c, err))
          case None if summary.size < m => summary.put(id, (c, 0L))
          case None =>
            // deterministic victim: smallest count, smallest id on ties
            val vcnt = summary.valuesIterator.map(_._1).min
            val vid  = summary.collect { case (sid, (scnt, _)) if scnt == vcnt => sid }.min
            summary.remove(vid)
            summary.put(id, (vcnt + c, vcnt))
        }
      }
      val ranked = summary.toSeq
        .map { case (id, (cnt, err)) => (id, cnt, err) }
        .sortBy { case (id, cnt, _) => (-cnt, id) }
      val next = (ranked.map(_._1).toArray, ranked.map(_._2).toArray, ranked.map(_._3).toArray)
      (Some(next), ranked.iterator.zipWithIndex.map { case ((id, cnt, err), idx) =>
        val nextEst = if (idx + 1 < ranked.size) ranked(idx + 1)._2 else 0L
        TrackedItem(key, id, cnt, err, idx + 1, if (cnt - err >= nextEst) 1 else 0)
      })
    })
    fold.tws(ds, _._1, ttl, OutputMode.Update())(Encoders.STRING, Encoders.product[TrackedItem])
  }
}
