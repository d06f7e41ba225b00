package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k-mean aggregate: the mean label of the k smallest
  * (distance, label) pairs seen by the group, ordered lexicographically
  * (distance, then label — the deterministic tiebreak the heap rankers
  * share; reference semantics: sklearn KNeighborsRegressor's
  * mean-of-k-nearest, forecasting/knn.py:22).
  *
  * This is the piece that makes the distributed KNN state roll
  * scale-correct: pairs produced by the cell join reduce into these
  * bounded buffers where they are born, and only
  * O(partitions × queries × k) candidate rows ever hit a shuffle,
  * never the pairs themselves. KnnForecaster drives `reduce` directly
  * from a mapPartitions accumulator rather than through groupBy(udaf):
  * ObjectHashAggregate falls back to SORT-based aggregation past 128
  * distinct keys per task (spark.sql.objectHashAggregate.sortBased.
  * fallbackThreshold), which would sort the corpus-sized pair stream —
  * measured as an executor OOM at 1M entities.
  *
  * Buffer layout: a sorted ascending interleaved array
  * [d0,l0, d1,l1, …] of at most k pairs. k is small (3-10), so O(k)
  * insertion beats heap bookkeeping; a non-improving row (the common
  * case once the buffer is warm) allocates nothing. `finish` sums
  * labels in ascending (d, label) order — the same accumulation order
  * as the exact path's post-window hash aggregate, which receives its
  * rows already sorted by the ranking window — so the two paths agree
  * bitwise, not just approximately.
  */
final class TopKAvgAgg(k: Int)
    extends Aggregator[(Double, Double), Array[Double], Double] with Serializable {
  require(k >= 1, s"top-k mean needs k >= 1, got $k")

  override def zero: Array[Double] = Array.emptyDoubleArray

  @inline private def lt(d1: Double, l1: Double, d2: Double, l2: Double): Boolean =
    d1 < d2 || (d1 == d2 && l1 < l2)

  private def insert(b: Array[Double], d: Double, l: Double): Array[Double] = {
    val n = b.length / 2
    var i = 0
    while (i < n && !lt(d, l, b(2 * i), b(2 * i + 1))) i += 1
    val out = new Array[Double](b.length + 2)
    System.arraycopy(b, 0, out, 0, 2 * i)
    out(2 * i) = d
    out(2 * i + 1) = l
    System.arraycopy(b, 2 * i, out, 2 * i + 2, b.length - 2 * i)
    out
  }

  override def reduce(b: Array[Double], in: (Double, Double)): Array[Double] = {
    val n = b.length / 2
    if (n < k) insert(b, in._1, in._2)
    else if (lt(in._1, in._2, b(2 * (k - 1)), b(2 * k - 1)))
      insert(java.util.Arrays.copyOf(b, 2 * (k - 1)), in._1, in._2)
    else b
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var r = a
    var i = 0
    while (i < b.length / 2) { r = reduce(r, (b(2 * i), b(2 * i + 1))); i += 1 }
    r
  }

  override def finish(b: Array[Double]): Double = {
    val n = b.length / 2
    // fail LOUD on an empty buffer rather than silently emitting
    // 0.0/0 = NaN into a forecast panel (ADVICE r9): a group that
    // reduced nothing means the caller fed an empty neighbor set —
    // a bug upstream, never a valid average
    require(n > 0, s"TopKAvg(k=$k): empty buffer — no (distance, label) " +
      "pairs were reduced for this group")
    var s = 0.0
    var i = 0
    while (i < n) { s += b(2 * i + 1); i += 1 }
    s / n
  }

  override def bufferEncoder: Encoder[Array[Double]] = Encoders.kryo[Array[Double]]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}
