package graft

import graft.core.Panel
import graft.operators.{AutoForecast, Conformal, CrossValidation, ForecastPipeline,
  Forecasters, FourierLinear, LinearForecaster, LinearForecasterModel, Preprocess,
  PrefixBacktest}
import org.apache.spark.sql.DataFrame

/** PrefixBacktest's core claim: for the per-entity AFFINE transforms
  * (identity / scale / demean / linear-detrend), the prefix-shared
  * backtest over ONE positioned lag frame reproduces the generic
  * per-slice pipeline refit (materialize transform → lag → fit →
  * predict → invert per train slice) up to moment sum-order drift —
  * the equivalence that lets the elite zoo's CD/pipeline member
  * families add ZERO full-width shuffles per (member × split)
  * (SCALE.md r9: the 1M-entity full-zoo disk death). */
class PrefixBacktestSpec extends SparkSpec {

  private val (lags, testSize, nSplits, stepSize, sweeps) = (4, 5, 2, 5, 8)
  private val (sp, kTerms) = (7, 2)

  private def mk(): Panel = {
    def s(seed: Int, n: Int, slope: Double) = {
      val r = new scala.util.Random(seed)
      (0 until n).map(i =>
        5.0 + slope * i + math.sin(i / 3.0) * 2.0 + r.nextGaussian() * 0.5)
    }
    // two long entities with opposite trends + one shorter one
    panel(s(1, 40, 0.3), s(2, 40, -0.2), s(3, 25, 0.1))
  }

  private def sharedLag(p: Panel): DataFrame =
    CrossValidation.withPosition(p.copy(df = Preprocess.lagKeepAll(p, 1 to lags)))
      .cache()

  private def linFit(alpha: Double, l1Ratio: Double)
                    (df: DataFrame, fs: Seq[String], lb: String): (Double, Array[Double]) =
    if (l1Ratio == 0.0) graft.functions.Ols.fit(df, fs, lb, ridge = alpha)
    else graft.functions.Ols.elasticNetCD(df, fs, lb, alpha, l1Ratio, sweeps)

  /** Compare the two backtest frames row-for-row on the sorted key. */
  private def assertSame(prefix: DataFrame, generic: DataFrame): Unit = {
    val a = prefix.orderBy("entity", "split", "t").collect()
    val b = generic.orderBy("entity", "split", "t").collect()
    assert(a.length == b.length && a.nonEmpty,
      s"row counts differ: ${a.length} vs ${b.length}")
    a.zip(b).foreach { case (x, y) =>
      assert(x.getInt(0) == y.getInt(0) && x.getInt(2) == y.getInt(2),
        s"key mismatch: $x vs $y")
      assertClose(x.getDouble(3), y.getDouble(3), 0) // actuals are data
      assertClose(x.getDouble(4), y.getDouble(4), 1e-6) // moment drift only
    }
  }

  private def prefixBt(p: Panel, t: PrefixBacktest.SliceTransform,
                       alpha: Double, l1Ratio: Double): DataFrame =
    PrefixBacktest.backtest(p, "t", lags, testSize, nSplits, stepSize,
      sharedLag(p), t, linFit(alpha, l1Ratio))

  test("NoTransform matches the generic per-slice CD refit") {
    val p = mk()
    val generic = Conformal.backtest(p, "t", testSize, nSplits, stepSize,
      (tr, h) => LinearForecaster.fit(tr, lags, "1i", 0.1, 0.5, sweeps)
        .predict(tr, "t", h))
    assertSame(prefixBt(p, PrefixBacktest.NoTransform, 0.1, 0.5), generic)
  }

  test("ScaleT matches the generic per-slice scale-pipeline refit") {
    val p = mk()
    val generic = Conformal.backtest(p, "t", testSize, nSplits, stepSize,
      (tr, h) => ForecastPipeline.fit(tr, "t", Seq(ForecastPipeline.scaleStep()),
        ForecastPipeline.linear(lags, "1i", 0.1, 0.0, sweeps)).predict("t", h))
    assertSame(prefixBt(p, PrefixBacktest.ScaleT, 0.1, 0.0), generic)
  }

  test("DemeanT matches the generic per-slice demean-pipeline lasso refit") {
    val p = mk()
    val generic = Conformal.backtest(p, "t", testSize, nSplits, stepSize,
      (tr, h) => ForecastPipeline.fit(tr, "t", Seq(ForecastPipeline.detrendMeanStep),
        ForecastPipeline.linear(lags, "1i", 0.1, 1.0, sweeps)).predict("t", h))
    assertSame(prefixBt(p, PrefixBacktest.DemeanT, 0.1, 1.0), generic)
  }

  test("DetrendT matches the generic per-slice linear-detrend refit") {
    val p = mk()
    val generic = Conformal.backtest(p, "t", testSize, nSplits, stepSize,
      (tr, h) => ForecastPipeline.fit(tr, "t", Seq(ForecastPipeline.detrendLinearStep),
        ForecastPipeline.linear(lags, "1i", 0.0, 0.0, sweeps)).predict("t", h))
    assertSame(prefixBt(p, PrefixBacktest.DetrendT, 0.0, 0.0), generic)
  }

  test("constant entity: ScaleT drops it exactly like the pipeline step") {
    // sigma = 0 -> try_divide null -> the entity contributes no
    // training rows and no predictions on EITHER path
    val p = panel(
      (0 until 40).map(i => 5.0 + 0.3 * i + math.sin(i / 2.0)),
      Seq.fill(40)(7.0))
    val generic = Conformal.backtest(p, "t", testSize, nSplits, stepSize,
      (tr, h) => ForecastPipeline.fit(tr, "t", Seq(ForecastPipeline.scaleStep()),
        ForecastPipeline.linear(lags, "1i", 0.1, 0.0, sweeps)).predict("t", h))
    val pfx = prefixBt(p, PrefixBacktest.ScaleT, 0.1, 0.0)
    assert(pfx.filter(pfx("entity") === 1 && pfx("pred").isNotNull).count() ==
      generic.filter(generic("entity") === 1 && generic("pred").isNotNull).count())
    assertSame(pfx.filter(pfx("pred").isNotNull),
      generic.filter(generic("pred").isNotNull))
  }

  private def fourierBt(p: Panel, t: PrefixBacktest.SliceTransform,
                        alpha: Double, l1Ratio: Double): DataFrame =
    PrefixBacktest.backtestFourier(p, "t", lags, sp, kTerms, testSize, nSplits,
      stepSize, sharedLag(p), t, linFit(alpha, l1Ratio))

  test("backtestFourier NoTransform matches the generic per-slice FourierLinear refit") {
    val p = mk()
    val generic = Conformal.backtest(p, "t", testSize, nSplits, stepSize,
      (tr, h) => FourierLinear.fitPredict(tr, "t", "1i", lags, sp, kTerms, 0.1, h,
        0.5, sweeps))
    assertSame(fourierBt(p, PrefixBacktest.NoTransform, 0.1, 0.5), generic)
  }

  test("backtestFourier DetrendT matches the generic per-slice detrend + FourierLinear refit") {
    val p = mk()
    val generic = Conformal.backtest(p, "t", testSize, nSplits, stepSize,
      (tr, h) => ForecastPipeline.fit(tr, "t", Seq(ForecastPipeline.detrendLinearStep),
        pT => (tc, hh) => FourierLinear.fitPredict(pT, tc, "1i", lags, sp, kTerms,
          0.0, hh, 0.0, sweeps)).predict("t", h))
    assertSame(fourierBt(p, PrefixBacktest.DetrendT, 0.0, 0.0), generic)
  }

  test("backtestLinearPrefix (drift and no drift) matches the generic linear refit") {
    val p = mk()
    val featureCols = (1 to lags).map(l => s"value__lag_$l")
    val drift = Conformal.backtest(p, "t", testSize, nSplits, stepSize,
      (tr, h) => LinearForecaster.fit(tr, lags, "1i", 0.1).predict(tr, "t", h))
    assertSame(AutoForecast.backtestLinearPrefix(p, "t", lags, testSize, nSplits,
      stepSize, ridge = 0.1), drift)
    val noDrift = Conformal.backtest(p, "t", testSize, nSplits, stepSize,
      (tr, h) => LinearForecasterModel(0.0, graft.functions.Ols.fitNoDrift(
        Forecasters.makeReduction(tr, lags), featureCols, tr.value, 0.1), lags, "1i")
        .predict(tr, "t", h))
    assertSame(AutoForecast.backtestLinearPrefix(p, "t", lags, testSize, nSplits,
      stepSize, ridge = 0.1, drift = false), noDrift)
  }
}
