package graft.operators

import graft.core.Panel
import graft.functions.FitBlocks
import org.apache.spark.sql.DataFrame

/** Depth-1 gradient-boosted stumps over the AR reduction — the
  * oracle-checkable member of the GBT forecaster family.
  *
  * Reference semantics: functime/forecasting/lightgbm.py:103-121
  * (gradient boosting over the lag-matrix reduction). The full-depth
  * MLlib ensemble ([[GbtForecaster]]) keeps its tree internals out of
  * SQL reach, so this variant pins every choice deterministic:
  * squared loss, leaf value = mean residual × learning rate, and
  * split candidates on a fixed uniform grid between each feature's
  * exact min/max (the histogram-binning idea, uniform instead of
  * quantile so both engines derive bit-identical thresholds from
  * bit-identical min/max). The argmax and leaf values are driver
  * arithmetic over each round's left-sums/counts, mirrored
  * term-for-term by the DuckDB oracle's per-round CTEs
  * ([[graft.queries.OlsBacktestSql.fullStump]]).
  *
  * Execution: the reduction's lag and label columns are persisted once
  * as [[graft.functions.FitBlocks]]; the min/max/Σy/n pass is the one
  * job that materializes them, and every boosting round is then one
  * pass — the fold computes the row's residual, the left sum and count
  * of every (feature, threshold) candidate, and Σr and n, and the
  * partials merge in the order Spark's `sum`/`min`/`max` would. Under
  * [[graft.functions.FitBlocks.driverCap]] the first job brings the
  * blocks to the driver and every round folds there, with no job;
  * only past the cap is a round one job. No Catalyst query runs inside
  * the loop. Per round: a scan of the blocks, a partial of
  * ~2·lags·bins numbers per partition, and a model of `rounds` stumps
  * that the recursive predict reads. No per-row state, no driver loop
  * over entities.
  */
object StumpBoost {

  /** One stump: feature index (1-based lag), threshold, left/right
    * leaf values (already scaled by the learning rate). */
  final case class Stump(feat: Int, thr: Double, vl: Double, vr: Double)

  final case class Model(b0: Double, stumps: Seq[Stump], lags: Int, freq: String) {
    def predict(p: Panel, timeCol: String, fh: Int): DataFrame =
      GbtForecaster.predictRecursiveModel(p, timeCol, fh, freq, lags, { feats =>
        // ((b0 + c1) + c2)… — the oracle's (b0 + c1 + c2 …) fold order;
        // the split test is the fit's (and the oracle's) `x <= thr`,
        // under which every x goes left of a NaN threshold
        stumps.foldLeft(b0)((acc, s) =>
          acc + (if (FitBlocks.le(feats(s.feat - 1), s.thr)) s.vl else s.vr))
      })
  }

  def fit(p: Panel, lags: Int, freq: String, rounds: Int = 5,
          bins: Int = 8, eta: Double = 0.3): Model = {
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
    val (b0, stumps) = fitRows(Forecasters.makeReduction(p, lags), featureCols, p.value,
      rounds, bins, eta)
    Model(b0, stumps, lags, freq)
  }

  /** The boosting loop over the complete rows of `train` (`featureCols`
    * = lags 1..L, then the label): returns (b0, stumps). */
  private[graft] def fitRows(train: DataFrame, featureCols: Seq[String], label: String,
                             rounds: Int, bins: Int, eta: Double): (Double, Vector[Stump]) = {
    val lags = featureCols.length
    // block column j < lags is lag j+1; column lags is the label
    val blocks = FitBlocks.persist(train, featureCols :+ label)
    try {
      // one pass: exact per-feature min/max (no float-order drift) +
      // the base prediction sum(y)/n — the oracle's min/max/sum/count
      val range = BoostGrid.firstPass(blocks, lags, 1, 0) { (b, s, _) =>
        val y = b.cols(lags)
        var r = 0
        while (r < b.n) { s(2 * lags) += y(r); r += 1 }
      }
      val n = range.n
      // an empty frame gets the same actionable error as Ols.fit /
      // Logistic.fitIrls, never a min/max of nothing
      if (n == 0L)
        throw new IllegalArgumentException(
          s"stump-boost fit has no complete training rows (every entity " +
            s"shorter than lags=$lags, or all rows null in $label)")
      val b0 = range.sums(0) / n
      val grid = new BoostGrid.Grid(range, bins)
      val nc = grid.size
      val candFeat = grid.feat
      val candThr = grid.thr
      var stumps = Vector.empty[Stump]
      (1 to rounds).foreach { _ =>
        val ns = stumps.size
        val sFeat = stumps.map(_.feat - 1).toArray
        val sThr = stumps.map(_.thr).toArray
        val sVl = stumps.map(_.vl).toArray
        val sVr = stumps.map(_.vr).toArray
        // slots 0..nc−1: left sum/count per candidate; slot nc: Σr, n
        val tot = blocks.sum(nc + 1, nc + 1) { (b, s, c) =>
          val x = b.cols
          val y = x(lags)
          var r = 0
          while (r < b.n) {
            // r = y − (((b0 + c1) + c2) …), the oracle's fold order
            var acc = b0
            var k = 0
            while (k < ns) {
              acc += (if (FitBlocks.le(x(sFeat(k))(r), sThr(k))) sVl(k) else sVr(k))
              k += 1
            }
            val res = y(r) - acc
            var ci = 0
            while (ci < nc) {
              if (FitBlocks.le(x(candFeat(ci))(r), candThr(ci))) { s(ci) += res; c(ci) += 1L }
              ci += 1
            }
            s(nc) += res
            c(nc) += 1L
            r += 1
          }
        }
        val (best, vl, vr) = BoostGrid.pickSplit(grid, tot.sums, tot.counts.map(_.toDouble),
          tot.sums(nc), tot.counts(nc).toDouble, eta)
        stumps :+= Stump(grid.feat(best) + 1, grid.thr(best), vl, vr)
      }
      (b0, stumps)
    } finally blocks.unpersist()
  }
}
