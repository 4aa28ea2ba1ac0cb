package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.GraftSpecBase

/** Decayed trending scores on flatMapGroupsWithState: cross-batch state
  * carries the score forward, decay follows the closed form
  * Σᵢ 2^(−(T−tᵢ)/h) over all events, and replaying the same batches
  * yields identical scores (decay is event-time, not wall-clock).
  */
class TrendingSpec extends GraftSpecBase {
  import spark.implicits._

  private val HalfLife = 1000L // ms

  private def runStream(batches: Seq[Seq[(String, Long)]]): Map[String, Trending.TopicScore] = {
    spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(String, Long)]
      val out   = Trending.perTopic(input.toDS(), HalfLife)
      val q = out.writeStream.format("memory").queryName("tr").outputMode("update").start()
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark
        .table("tr")
        .as[Trending.TopicScore]
        .collect()
        .groupBy(_.topic)
        .map { case (k, rows) => k -> rows.maxBy(_.nEvents) }
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  /** Closed form for in-order event times: score after the last event is
    * Σᵢ 2^(−(t_last − tᵢ)/halfLife).
    */
  private def closedForm(times: Seq[Long]): Double = {
    val last = times.max
    times.map(t => math.pow(2.0, -(last - t).toDouble / HalfLife)).sum
  }

  test("single-batch score matches the closed form") {
    val times = Seq(0L, 500L, 1000L, 3000L)
    val got   = runStream(Seq(times.map(("a", _))))
    assert(math.abs(got("a").score - closedForm(times)) < 1e-9)
    assert(got("a").nEvents === 4L)
    assert(got("a").lastMs === 3000L)
  }

  test("state carries across micro-batches: multi-batch equals one-batch") {
    val times = Seq(0L, 250L, 1500L, 2000L, 4000L, 4100L)
    val multi = runStream(Seq(times.take(2).map(("t", _)), times.slice(2, 4).map(("t", _)), times.drop(4).map(("t", _))))
    val mono  = runStream(Seq(times.map(("t", _))))
    assert(math.abs(multi("t").score - mono("t").score) < 1e-9)
    assert(math.abs(multi("t").score - closedForm(times)) < 1e-9)
  }

  test("half-life semantics: an idle gap of one half-life halves the score") {
    // one event at t=0 (score 1), second at t=HalfLife: decayed 0.5, +1
    val got = runStream(Seq(Seq(("h", 0L)), Seq(("h", HalfLife))))
    assert(math.abs(got("h").score - 1.5) < 1e-9)
  }

  test("a backwards timestamp decays by zero instead of inflating") {
    // second event 'arrives' with an EARLIER event time (late replay):
    // max(0, Δt) means no decay and no exponential blow-up; lastMs holds
    val got = runStream(Seq(Seq(("b", 5000L)), Seq(("b", 1000L))))
    assert(math.abs(got("b").score - 2.0) < 1e-9)
    assert(got("b").lastMs === 5000L)
  }

  test("an out-of-order pair INSIDE one batch folds as if sorted") {
    // Without the in-batch sort, [(3000),(0)] folds to 2.0 (the clamp
    // skips decay and the t=3000 event is never decayed) while [(0),(3000)]
    // folds to 1.125 — the score would depend on shuffle iterator order.
    // With the sort, both orders equal the closed form over {0, 3000}.
    val expected = closedForm(Seq(0L, 3000L))
    val inOrder  = runStream(Seq(Seq(("o", 0L), ("o", 3000L))))
    val reversed = runStream(Seq(Seq(("o", 3000L), ("o", 0L))))
    assert(math.abs(inOrder("o").score - expected) < 1e-9)
    assert(math.abs(reversed("o").score - expected) < 1e-9)
    assert(reversed("o").lastMs === 3000L)
  }

  test("independent topics do not interact") {
    val got = runStream(Seq(Seq(("x", 0L), ("y", 0L)), Seq(("x", 2000L))))
    assert(math.abs(got("x").score - (1.0 + math.pow(2.0, -2.0))) < 1e-9)
    assert(math.abs(got("y").score - 1.0) < 1e-9)
  }
}
