package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming CUSUM control chart on `flatMapGroupsWithState` (SURVEY.md §2
  * B226) — the ONLINE form of B225's batch changepoint: per key, the
  * one-sided cumulative-sum statistics of Page's control chart,
  *   Sᵖ = max(0, Sᵖ + (x − target − slack)),
  *   Sⁿ = max(0, Sⁿ + (target − x − slack)),
  * alarmed when either exceeds the decision threshold h. The batch
  * query answers "where DID the regime shift" over history; this
  * answers "has it shifted NOW" with O(1) state per key — the drift
  * tripwire that pages before the nightly batch run would have noticed.
  *
  * All arithmetic is integer (caller supplies values, target, slack and
  * h in the same fixed-point unit), so state and emissions are exact —
  * no float accumulation drift across millions of batches.
  *
  * Determinism (the event-time sort discipline): the batch slice is
  * sorted by event time before folding, so emission is a pure function
  * of (state, batch timestamp-value multiset). CUSUM is inherently a
  * sequential fold — unlike the sketch operators there is no order-free
  * formulation — which is exactly why the sort is load-bearing and
  * spec-pinned.
  *
  * Emission per touched key per batch: the post-batch S⁺/S⁻, total
  * points, whether the batch TRIPPED an alarm (crossed h within this
  * batch, event-time-ordered), and the event-time ms of the first
  * crossing in the batch (the changepoint estimate; −1 when no trip).
  * After a trip the statistic resets to 0 — Page's restart rule — so
  * repeated alarms mean repeated shifts, not one long excursion.
  */
object CusumChart {

  case class ChartState(key: String, sPos: Long, sNeg: Long, nPoints: Long, tripped: Int, tripMs: Long)

  /** @param ds (key, eventTimeMs, value) rows — value in caller's fixed-point unit
    * @param target in-control mean, same unit
    * @param slack  allowance k (half the shift to detect), same unit
    * @param h      decision threshold, same unit
    */
  def perKey(
      ds: Dataset[(String, Long, Long)],
      target: Long,
      slack: Long,
      h: Long
  ): Dataset[ChartState] = {
    require(slack >= 0 && h > 0, s"need slack >= 0 and h > 0 (got slack=$slack h=$h)")
    // state: (sPos, sNeg, nPoints)
    val fold = new KeyedFold[String, (String, Long, Long), (Long, Long, Long), ChartState](
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong), (0L, 0L, 0L))({
      (key, chart, rows) =>
        var (sPos, sNeg, n) = chart
        var tripped = 0
        var tripMs  = -1L
        // event-time sort: CUSUM is a sequential fold; order is load-bearing
        rows.toSeq.sortBy(_._2).foreach { case (_, ms, x) =>
          sPos = math.max(0L, sPos + (x - target - slack))
          sNeg = math.max(0L, sNeg + (target - x - slack))
          n += 1
          if (sPos > h || sNeg > h) {
            if (tripped == 0) tripMs = ms
            tripped = 1
            sPos = 0L // Page's restart: re-arm for the next shift
            sNeg = 0L
          }
        }
        (Some((sPos, sNeg, n)), Iterator.single(ChartState(key, sPos, sNeg, n, tripped, tripMs)))
    })
    fold.fmgws(ds, _._1, None, OutputMode.Update)(Encoders.STRING, Encoders.product[ChartState])
  }
}
