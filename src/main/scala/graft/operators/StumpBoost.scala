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
      // the base prediction sum(y)/n — the oracle's min/max/sum/count,
      // with `least`/`greatest` folds merged in partition order
      val mm = blocks.partials(2 * lags + 1, 1) { (b, s, c) =>
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
          s(2 * lags) += x(lags)(r)
          c(0) += 1L
          r += 1
        }
      }
      val mins = new Array[Double](lags)
      val maxs = new Array[Double](lags)
      var sumY = 0.0
      var n = 0L
      mm.foreach { part =>
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
          sumY += part.sums(2 * lags)
          n += part.counts(0)
        }
      }
      // an empty frame gets the same actionable error as Ols.fit /
      // Logistic.fitIrls, never a min/max of nothing
      if (n == 0L)
        throw new IllegalArgumentException(
          s"stump-boost fit has no complete training rows (every entity " +
            s"shorter than lags=$lags, or all rows null in $label)")
      val b0 = sumY / n
      // uniform-grid candidates: mn + k·(mx−mn)/bins, k = 1..bins−1 —
      // identical IEEE op order to the oracle's threshold expression
      val cands = for { i <- 1 to lags; k <- 1 until bins }
        yield (i, k, mins(i - 1) + k * (maxs(i - 1) - mins(i - 1)) / bins.toDouble)
      val nc = cands.size
      val candFeat = cands.map(_._1 - 1).toArray
      val candThr = cands.map(_._3).toArray
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
        val st = tot.sums(nc)
        val nt = tot.counts(nc)
        val scored = cands.zipWithIndex.map { case ((i, k, t), ci) =>
          val sl = tot.sums(ci)
          val nl = tot.counts(ci)
          // SSE-reduction gain for mean leaves; empty/full sides get a
          // finite sentinel (not NaN/−Inf — engines order those apart)
          val gain =
            if (nl > 0 && nl < nt) sl * sl / nl + (st - sl) * (st - sl) / (nt - nl)
            else -1e308
          (gain, i, k, t, sl, nl)
        }
        // argmax gain, ties to the lowest (feature, threshold) —
        // ORDER BY gain DESC, i, k LIMIT 1 in the oracle
        val (_, bi, _, bt, bsl, bnl) = scored.minBy { case (g, i, k, _, _, _) => (-g, i, k) }
        val vl = if (bnl > 0) bsl / bnl * eta else 0.0
        val vr = if (nt > bnl) (st - bsl) / (nt - bnl) * eta else 0.0
        stumps :+= Stump(bi, bt, vl, vr)
      }
      (b0, stumps)
    } finally blocks.unpersist()
  }
}
