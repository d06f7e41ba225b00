package graft

import graft.operators.KnnForecaster
import org.scalatest.funsuite.AnyFunSuite

/** Bounded top-k-mean semantics of the KNN kernel every path shares:
  * a top-k is an ascending interleaved (distance, label) array,
  * `mergeTopK` keeps the k smallest under the (distance, label) total
  * order whatever the split, and `meanLabel` averages the labels in
  * that ascending order. A stream is fed one (distance, label) pair at
  * a time by merging it in as a one-entry top-k. The spec keeps the
  * name of the k-buffer aggregator these semantics were first pinned
  * on. */
class TopKAvgSpec extends AnyFunSuite {

  private def feed(k: Int, xs: Seq[(Double, Double)]): Array[Double] =
    xs.foldLeft(Array.empty[Double]) { case (buf, (d, l)) =>
      KnnForecaster.mergeTopK(buf, Array(d, l), k)
    }

  private def rawBits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  test("keeps the k smallest by distance and averages their labels") {
    val b = feed(3, Seq((5.0, 50.0), (1.0, 10.0), (4.0, 40.0), (2.0, 20.0), (3.0, 30.0)))
    assert(KnnForecaster.meanLabel(b, 3) == (10.0 + 20.0 + 30.0) / 3)
    // a NaN distance ranks after every number, even when it arrives first
    val n = feed(2, Seq((Double.NaN, 0.0), (5.0, 50.0), (1.0, 10.0)))
    assert(rawBits(n) == rawBits(Array(1.0, 10.0, 5.0, 50.0)))
  }

  test("fewer than k inputs average what exists (small-cell case)") {
    val b = feed(5, Seq((2.0, 8.0), (1.0, 4.0)))
    assert(KnnForecaster.meanLabel(b, 5) == 6.0)
  }

  test("distance ties break toward the smaller label, deterministically") {
    // same distance, different labels, both insertion orders
    assert(KnnForecaster.meanLabel(feed(1, Seq((1.0, 9.0), (1.0, 3.0))), 1) == 3.0)
    assert(KnnForecaster.meanLabel(feed(1, Seq((1.0, 3.0), (1.0, 9.0))), 1) == 3.0)
    // −0.0 ranks below 0.0 and 3.0
    Seq(Seq((1.0, 3.0), (1.0, 0.0), (1.0, -0.0)), Seq((1.0, -0.0), (1.0, 0.0), (1.0, 3.0)))
      .foreach(xs => assert(rawBits(feed(1, xs)) == rawBits(Array(1.0, -0.0))))
  }

  test("merge equals single-stream reduce regardless of the split point") {
    val xs = Seq((3.0, 1.0), (1.0, 7.0), (2.0, 5.0), (1.5, 2.0), (9.0, 9.0), (0.5, 4.0),
      (Double.NaN, 0.0), (1.0, -0.0), (1.0, 3.0))
    val whole = feed(3, xs)
    assert(rawBits(whole) == rawBits(Array(0.5, 4.0, 1.0, -0.0, 1.0, 3.0)))
    for (order <- Seq(xs, xs.reverse); cut <- 0 to xs.length) {
      val (a, b) = order.splitAt(cut)
      val merged = KnnForecaster.mergeTopK(feed(3, a), feed(3, b), 3)
      assert(rawBits(merged) == rawBits(whole), s"split at $cut")
    }
  }

  test("finish sums labels in ascending (distance, label) order") {
    // the top-k layout is sorted ascending interleaved pairs, and the
    // mean folds its labels in that order: 1e16 + -1e16 + 1.0 is 1.0,
    // while any order adding 1.0 to ±1e16 first loses it
    val b = feed(3, Seq((2.0, 20.0), (1.0, 10.0), (3.0, 30.0)))
    assert(b.toSeq == Seq(1.0, 10.0, 2.0, 20.0, 3.0, 30.0))
    val c = feed(3, Seq((3.0, 1.0), (1.0, 1e16), (2.0, -1e16)))
    assert(KnnForecaster.meanLabel(c, 3) == 1.0 / 3)
  }
}
