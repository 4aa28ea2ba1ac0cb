package graft.streaming

import org.scalacheck.{Gen, Test => SCTest}
import org.scalacheck.Prop.forAll

import graft.GraftSpecBase

/** Property proofs for the sketch kernels — the claims the docstrings
  * make, checked over generated inputs instead of hand-picked cases:
  * the HDR bucket's ≤ 1/16 relative error bound, bucket monotonicity
  * (order-preservation of quantiles), the 52-bit hash range, and the
  * KMV estimator's exactness below k.
  */
class SketchKernelPropertySpec extends GraftSpecBase {

  private def check(p: org.scalacheck.Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, r.status.toString)
  }

  private val microGen: Gen[Long] = Gen.oneOf(
    Gen.chooseNum(0L, 64L),                      // exact small-bucket region
    Gen.chooseNum(0L, 1L << 30),                 // mid range
    Gen.chooseNum(0L, Long.MaxValue / 4)         // deep tail
  )

  test("HDR bucket: lower bound never exceeds v, and v < lb·17/16 (the 6.25% claim)") {
    check(forAll(microGen) { v =>
      val lb = HistQuantiles.lowerBound(HistQuantiles.bucketOf(v))
      lb <= v && (v < 16 || v < lb + lb / 16)
    })
  }

  test("HDR bucket: monotone — a larger value never lands in a smaller bucket") {
    check(forAll(microGen, microGen) { (a, b) =>
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      HistQuantiles.bucketOf(lo) <= HistQuantiles.bucketOf(hi)
    })
  }

  test("HDR bucket: ids stay inside the fixed 1024-counter array for any non-negative long") {
    check(forAll(Gen.chooseNum(0L, Long.MaxValue)) { v =>
      val b = HistQuantiles.bucketOf(v)
      b >= 0 && b < 1024
    })
  }

  test("hash52 is always a valid 52-bit value") {
    check(forAll(Gen.alphaNumStr) { s =>
      val h = KmvSketch.hash52(s)
      h >= 0L && h < (1L << 52)
    })
  }

  test("KMV: below k the estimate is exactly the distinct count") {
    val idsGen = Gen.listOf(Gen.chooseNum(0, 40)).map(_.map(i => s"id-$i"))
    check(forAll(idsGen) { ids =>
      val hashes = ids.map(KmvSketch.hash52).distinct.sorted.toArray
      val (est, _) = KmvSketch.estimate(64, hashes, ids.size.toLong)
      est == hashes.length.toLong
    })
  }

  test("quantile is monotone in q and bounded by the histogram's support") {
    val countsGen = Gen.listOfN(40, Gen.chooseNum(0L, 5L)).map { cs =>
      val arr = new Array[Long](1024)
      cs.zipWithIndex.foreach { case (c, i) => arr(i * 7 % 1024) += c }
      arr
    }
    check(forAll(countsGen) { counts =>
      val n = counts.sum
      n == 0L || {
        val p50 = HistQuantiles.quantile(counts, n, 1, 2)
        val p90 = HistQuantiles.quantile(counts, n, 9, 10)
        val p99 = HistQuantiles.quantile(counts, n, 99, 100)
        p50 <= p90 && p90 <= p99
      }
    })
  }
}
