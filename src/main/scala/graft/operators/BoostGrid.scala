package graft.operators

import graft.functions.FitBlocks

/** What the two histogram boosters ([[StumpBoost]], [[TreeBoost]])
  * share: the first pass over their blocks, the uniform candidate grid
  * and the split pick. Block columns 0..lags−1 are the lag features.
  */
private[operators] object BoostGrid {

  /** The first pass's result: exact per-lag min/max, the row count `n`,
    * and the caller's extra sums and counts. */
  final class Range(val mins: Array[Double], val maxs: Array[Double], val n: Long,
                    val sums: Array[Double], val counts: Array[Long])

  /** The pass that materializes `blocks`: per-lag min/max (Spark's
    * `min`/`max`: `least`/`greatest` folds, merged in partition order),
    * the row count, and `extra`, which adds into its own `nSums` sums
    * from slot 2·lags and `nCounts` counts from slot 1 (merged in
    * partition order from 0.0, as [[FitBlocks]] merges a `Sum`). */
  def firstPass(blocks: FitBlocks.Persisted, lags: Int, nSums: Int, nCounts: Int)(
      extra: FitBlocks.Fold): Range = {
    val parts = blocks.partials(2 * lags + nSums, 1 + nCounts) { (b, s, c) =>
      val x = b.cols
      var r = 0
      while (r < b.n) {
        var i = 0
        while (i < lags) {
          val v = x(i)(r)
          if (c(0) == 0L) { s(2 * i) = v; s(2 * i + 1) = v }
          else {
            s(2 * i) = FitBlocks.least(s(2 * i), v)
            s(2 * i + 1) = FitBlocks.greatest(s(2 * i + 1), v)
          }
          i += 1
        }
        c(0) += 1L
        r += 1
      }
      extra(b, s, c)
    }
    val mins = new Array[Double](lags)
    val maxs = new Array[Double](lags)
    val sums = new Array[Double](nSums)
    val counts = new Array[Long](nCounts)
    var n = 0L
    parts.foreach { part =>
      if (part.counts(0) > 0L) {
        var i = 0
        while (i < lags) {
          if (n == 0L) { mins(i) = part.sums(2 * i); maxs(i) = part.sums(2 * i + 1) }
          else {
            mins(i) = FitBlocks.least(mins(i), part.sums(2 * i))
            maxs(i) = FitBlocks.greatest(maxs(i), part.sums(2 * i + 1))
          }
          i += 1
        }
        n += part.counts(0)
      }
      var j = 0
      while (j < nSums) { sums(j) += part.sums(2 * lags + j); j += 1 }
      j = 0
      while (j < nCounts) { counts(j) += part.counts(1 + j); j += 1 }
    }
    new Range(mins, maxs, n, sums, counts)
  }

  /** The split candidates: lag `feat(ci)` (0-based) at threshold
    * `thr(ci)` = mn + k·(mx−mn)/bins, k = `k(ci)` = 1..bins−1 — the
    * oracle's threshold expression in the same IEEE op order — ordered
    * by (lag, k). */
  final class Grid(range: Range, bins: Int) {
    val size: Int = range.mins.length * (bins - 1)
    val feat: Array[Int] = Array.tabulate(size)(_ / (bins - 1))
    val k: Array[Int] = Array.tabulate(size)(_ % (bins - 1) + 1)
    val thr: Array[Double] = Array.tabulate(size)(ci => range.mins(feat(ci)) +
      k(ci) * (range.maxs(feat(ci)) - range.mins(feat(ci))) / bins.toDouble)
  }

  /** The best split of a node with residual sum `sn` over size `nn` (a
    * row count or Σw), given each candidate's left sum `sl(ci)` and
    * size `nl(ci)`: the SSE-reduction gain argmax, ties to the lowest
    * (lag, k) — the oracle's ORDER BY gain DESC, i, k LIMIT 1 — and the
    * mean-leaf values × `eta`. Returns (candidate, left leaf, right
    * leaf). */
  def pickSplit(grid: Grid, sl: Array[Double], nl: Array[Double], sn: Double, nn: Double,
                eta: Double): (Int, Double, Double) = {
    val best = (0 until grid.size).minBy { ci =>
      // empty/full sides get a finite sentinel (not NaN/−Inf — engines
      // order those apart)
      val gain =
        if (nl(ci) > 0 && nl(ci) < nn)
          sl(ci) * sl(ci) / nl(ci) + (sn - sl(ci)) * (sn - sl(ci)) / (nn - nl(ci))
        else -1e308
      (-gain, grid.feat(ci), grid.k(ci))
    }
    val vl = if (nl(best) > 0) sl(best) / nl(best) * eta else 0.0
    val vr = if (nn > nl(best)) (sn - sl(best)) / (nn - nl(best)) * eta else 0.0
    (best, vl, vr)
  }
}
