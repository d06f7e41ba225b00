package graft.operators

import graft.core.Panel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Elite ensemble at reference depth — elite.py:80-164 (the ~30-model
  * base zoo), :269-286 (per-entity top-k selection), :303-308 and
  * :356-374 (ensemble strategies incl. the lasso stacker and the
  * naive random-walk fallback).
  *
  * [[AutoForecast.elite]] keeps the proven 4-model orchestration
  * shape; this widens the zoo by COMPOSING existing machinery — the
  * prefix-shared linear/ridge backtests, the generic slice backtest
  * with per-split [[ForecastPipeline]] transform refits, the cyclic-CD
  * lasso — exactly as the reference composes target_transform-wrapped
  * sklearn regressors. Two stacking strategies:
  *
  *  - `mean` (elite.py:356-364): per-entity top-k models' full-data
  *    predictions averaged per (entity, time).
  *  - `lasso` (elite.py:303-308): a GLOBAL lasso (cyclic CD on
  *    one-pass moments — our LassoLarsIC analog, α fixed instead of
  *    IC-selected) fit on the rank-pivoted CV predictions
  *    (X_stack, _get_X_stack:176-215) against the actuals, applied to
  *    the rank-pivoted full-data predictions, with the reference's
  *    random-walk fallback: entities whose rank-1 model is naive get
  *    the pure naive forecast (:365-374).
  *
  * Scale design: every member backtest/full fit is an independent
  * distributed job over ONE shared positioned lag frame (linear
  * family) or the cached panel (pipeline family), overlapped as
  * futures; ranking/pivot/blend are entity-keyed joins + window
  * ranks + one conditional-aggregation pivot — no driver loop over
  * entities, and the only collected state is the k+1-dimensional
  * stack moments.
  */
object EliteDeep {

  /** Strip the `@cf<fraction>` corpus-gate recall stamp from a member
    * / model-column name (stamped as `f"%.4f"`, e.g.
    * `knn_3@cf0.0100`). Public so downstream consumers of the output
    * `model` column can match on the plain zoo name. */
  def baseName(n: String): String = n.split("@cf")(0)

  /** A zoo member: backtest frame (entity…, timeCol, split, actual,
    * pred) and full-data prediction frame (entity…, timeCol, value). */
  final case class Member(name: String,
                          backtest: () => DataFrame,
                          full: () => DataFrame)

  /** The composed zoo over one cached panel + one shared positioned
    * `maxLinLags`-lag frame. Lag-grid/regularization/transform
    * variants mirror elite.py:80-164's families. */
  private def zoo(cached: Panel, sharedLag: DataFrame, timeCol: String,
                  freq: String, sp: Int, fh: Int, testSize: Int, nSplits: Int,
                  stepSize: Int, cdSweeps: Int, deepLags: Int,
                  fourierK: Int = 0,
                  selected: Seq[String] = Nil,
                  releases: scala.collection.mutable.Buffer[DataFrame] =
                    scala.collection.mutable.ArrayBuffer.empty,
                  knnCorpusFraction: Double = 1.0): Seq[Member] = {
    val p = cached
    // ONE positioned frame for every generic-backtest member: a lazy
    // narrow projection of the cached lag frame (lagKeepAll preserves
    // rows, so positions over it equal positions over the raw panel).
    // Without it each member's Conformal.backtest checkpoints its own
    // panel-width positioned copy — 6 concurrent members held ~37 GB
    // of those at 1M entities (r11 soak post-mortem #3).
    val sharedPositioned = sharedLag.select(
      (cached.df.columns :+ "__rn" :+ "__cnt").map(col): _*)
    // fourier depth: 0 = the oracle-bounded default (K=2 everywhere);
    // > 0 = reference tiering, capped below sp (see the fourier
    // member comment)
    val kF = if (fourierK <= 0) 2 else math.min(fourierK, sp - 1)
    val kFD = if (fourierK <= 0) 2 else math.min(2 * fourierK, sp - 1)
    // one distinct-count job shared by every knn fit (the dispatch
    // hint for exact-vs-IVF); lazy so zoos without knn members — or
    // runs whose `models` filter drops them — never pay it
    lazy val entityCount = p.df.select(p.entityCols: _*).distinct().count()
    def fitLinearShared(lags: Int, ridge: Double = 0.0,
                        drift: Boolean = true): LinearForecasterModel = {
      val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
      val train = sharedLag.filter(col("__rn") > lags)
      val (b0, w) =
        if (drift) graft.functions.Ols.fit(train, featureCols, p.value, ridge)
        else (0.0, graft.functions.Ols.fitNoDrift(train, featureCols, p.value, ridge))
      LinearForecasterModel(b0, w, lags, freq)
    }
    def linearMember(name: String, lags: Int, ridge: Double = 0.0,
                     drift: Boolean = true) = Member(name,
      () => AutoForecast.backtestLinearPrefix(p, timeCol, lags, testSize, nSplits,
        stepSize, ridge, preAssembled = Some(sharedLag), drift = drift),
      () => fitLinearShared(lags, ridge, drift).predict(p, timeCol, fh))
    // the shared fit dispatch: l1Ratio = 0 → closed-form OLS/ridge,
    // else CD — LinearForecaster.fit's rule over any (df, cols, label)
    def linFit(alpha: Double, l1Ratio: Double, sweeps: Int)
              (df: DataFrame, fs: Seq[String], lb: String): (Double, Array[Double]) =
      if (l1Ratio == 0.0) graft.functions.Ols.fit(df, fs, lb, ridge = alpha)
      else graft.functions.Ols.elasticNetCD(df, fs, lb, alpha, l1Ratio, sweeps)
    // L1/elastic-net members refit the CD solver per train slice, like
    // the reference refits ElasticNet per split — but PREFIX-SHARED:
    // each slice's moments read the one cached lag frame instead of
    // re-shuffling the panel into lags per (member × split)
    // (PrefixBacktest — the r9 1M-entity disk-death fix)
    def cdMember(name: String, lags: Int, alpha: Double, l1Ratio: Double,
                 sweeps: Int) = Member(name,
      () => PrefixBacktest.backtest(p, timeCol, lags, testSize, nSplits,
        stepSize, sharedLag, PrefixBacktest.NoTransform,
        linFit(alpha, l1Ratio, sweeps)),
      () => LinearForecaster.fit(p, lags, freq, alpha, l1Ratio, sweeps)
        .predict(p, timeCol, fh))
    // target-transform members refit transform params + model per
    // train slice, like the reference's target_transform-wrapped
    // regressors — the AFFINE transforms (scale/detrend/demean) run
    // prefix-shared with per-slice artifact aggs only; diff (whose
    // invert is a cumulative sum, not per-entity affine) keeps the
    // generic per-slice pipeline
    // full-data pipeline fit with DETERMINISTIC cache release: the
    // fit-time transformed-panel cache is full panel width, and 10+
    // pipeline members fitting concurrently otherwise hold 10+ live
    // full-width caches until a GC lets ContextCleaner find them —
    // at 1M entities that transient alone exhausted the soak host's
    // scratch disk (r11 post-mortem). Materialize the (entities × fh)
    // prediction, then free the cache immediately.
    def pipeFull(steps: Seq[ForecastPipeline.Step], lags: Int,
                 alpha: Double, l1Ratio: Double)(): DataFrame = {
      val fp = ForecastPipeline.fit(p, timeCol, steps,
        ForecastPipeline.linear(lags, freq, alpha, l1Ratio, cdSweeps))
      val out = fp.predict(timeCol, fh).localCheckpoint(eager = true)
      fp.unpersist()
      out
    }
    def pipePrefixMember(name: String, t: PrefixBacktest.SliceTransform,
                         steps: Seq[ForecastPipeline.Step], lags: Int,
                         alpha: Double = 0.0, l1Ratio: Double = 0.0) = Member(name,
      () => PrefixBacktest.backtest(p, timeCol, lags, testSize, nSplits,
        stepSize, sharedLag, t, linFit(alpha, l1Ratio, cdSweeps)),
      pipeFull(steps, lags, alpha, l1Ratio))
    def pipeMember(name: String, steps: Seq[ForecastPipeline.Step], lags: Int,
                   alpha: Double = 0.0, l1Ratio: Double = 0.0) = Member(name,
      () => Conformal.backtest(p, timeCol, testSize, nSplits, stepSize,
        (tr, h) => ForecastPipeline.fit(tr, timeCol, steps,
          ForecastPipeline.linear(lags, freq, alpha, l1Ratio, cdSweeps))
          .predict(timeCol, h), prePositioned = Some(sharedPositioned)),
      pipeFull(steps, lags, alpha, l1Ratio))
    // recursive multi-horizon KNN, optionally behind a target
    // transform (elite's knn / knn_scaled / knn_detrend_linear)
    def knnFit(lags: Int, k: Int, xform: Option[ForecastPipeline.Step])
              (tr: Panel, h: Int): DataFrame = xform match {
      // auto dispatch: exact broadcast scan under the entity cap
      // (bitwise the oracle path at test SFs), IVF cell index past it
      // so the zoo holds where the exact guard would fail loud. The
      // full-panel entity count is computed once per run (lazy below)
      // — ~15 knn fits share it instead of each paying a count job
      case Some(step) =>
        ForecastPipeline.fit(tr, timeCol, Seq(step),
          pT => (tc, hh) => KnnForecaster.predictRecursiveAuto(pT, tc, freq, lags, k, hh,
            entityCountHint = entityCount, corpusFraction = knnCorpusFraction))
          .predict(timeCol, h)
      case None => KnnForecaster.predictRecursiveAuto(tr, timeCol, freq, lags, k, h,
        entityCountHint = entityCount, corpusFraction = knnCorpusFraction)
    }
    // AR + fourier feature-transform members: the fourier columns are
    // position functions, so backtest refits run PREFIX-SHARED over
    // the one cached lag frame (PrefixBacktest.backtestFourier — the
    // r12 removal of the zoo's last per-split lag-rebuild family;
    // slice positions equal shared __rn on a prefix, so the fourier
    // features are expressions over the shared frame) while the full
    // fit keeps the closed-form fitPredict
    def fourierMember(name: String, lags: Int, kTerms: Int,
                      ridge: Double = 0.0, l1Ratio: Double = 0.0) = Member(name,
      () => PrefixBacktest.backtestFourier(p, timeCol, lags, sp, kTerms,
        testSize, nSplits, stepSize, sharedLag, PrefixBacktest.NoTransform,
        linFit(ridge, l1Ratio, cdSweeps)),
      () => FourierLinear.fitPredict(p, timeCol, freq, lags, sp, kTerms,
        ridge, fh, l1Ratio, cdSweeps))
    // target-transform × fourier combos (elite.py:115-137
    // *_scaled_fourier, :148-164 *_detrend_linear_fourier): the
    // transform refits per slice via the same prefix-shared artifact
    // aggs as the affine members, the AR+fourier fit runs in
    // transformed space (positions are transform-invariant)
    def pipeFourierMember(name: String, t: PrefixBacktest.SliceTransform,
                          steps: Seq[ForecastPipeline.Step],
                          lags: Int, kTerms: Int, ridge: Double = 0.0,
                          l1Ratio: Double = 0.0) = {
      def fitP(tr: Panel, h: Int): DataFrame =
        ForecastPipeline.fit(tr, timeCol, steps,
          pT => (tc, hh) => FourierLinear.fitPredict(pT, tc, freq, lags, sp,
            kTerms, ridge, hh, l1Ratio, cdSweeps)).predict(timeCol, h)
      Member(name,
        () => PrefixBacktest.backtestFourier(p, timeCol, lags, sp, kTerms,
          testSize, nSplits, stepSize, sharedLag, t,
          linFit(ridge, l1Ratio, cdSweeps)),
        () => fitP(p, fh))
    }
    // no-intercept lasso (elite.py:95 lasso_no_drift): CD on the raw
    // Gram, refit per train slice — prefix-shared like cdMember
    def cdNoDriftMember(name: String, lags: Int, alpha: Double,
                        l1Ratio: Double) = {
      val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
      def fitFull(tr: Panel, h: Int): DataFrame = {
        val red = Forecasters.makeReduction(tr, lags)
        val w = graft.functions.Ols.elasticNetCDNoDrift(
          red, featureCols, tr.value, alpha, l1Ratio, cdSweeps)
        LinearForecasterModel(0.0, w, lags, freq).predict(tr, timeCol, h)
      }
      Member(name,
        () => PrefixBacktest.backtest(p, timeCol, lags, testSize, nSplits,
          stepSize, sharedLag, PrefixBacktest.NoTransform,
          (df, fs, lb) => (0.0, graft.functions.Ols.elasticNetCDNoDrift(
            df, fs, lb, alpha, l1Ratio, cdSweeps))),
        () => fitFull(p, fh))
    }
    // the zoo's SELECTED knn members run as ONE batched exact-path
    // roll when under the entity cap (EliteKnnBatch: every member ×
    // CV-slice context advances per horizon step through a single
    // multi-group corpus scan — max(testSize, fh) scan jobs instead of
    // members × (nSplits·testSize + fh); the heaviest registry query's
    // verified cost item, VERDICT r10 #1). Past the cap each member
    // independently takes the distributed IVF roll as before. The
    // lazy val is thread-safe: the first member future to touch it
    // computes the whole batch, siblings block and then just read.
    val knnSpecs: Seq[EliteKnnBatch.MemberSpec] = (Seq(
      EliteKnnBatch.MemberSpec("knn_3", 3, 7, None),
      EliteKnnBatch.MemberSpec("knn_scaled_3", 3, 7,
        Some(ForecastPipeline.scaleStep())),
      EliteKnnBatch.MemberSpec("knn_detrend_3", 3, 7,
        Some(ForecastPipeline.detrendLinearStep))) ++
      (if (deepLags <= 0) Nil else Seq(EliteKnnBatch.MemberSpec(
        s"knn_deep_${deepLags / 2}", math.max(1, deepLags / 2), deepLags, None))))
      .filter(s => selected.contains(s.name))
    lazy val batchKnn: Map[String, (DataFrame, DataFrame)] =
      if (knnSpecs.nonEmpty && entityCount <= KnnForecaster.maxExactEntities)
        EliteKnnBatch.backtestAndFull(p, timeCol, freq, knnSpecs,
          testSize, nSplits, stepSize, fh, releases, knnCorpusFraction)
      else Map.empty
    // a gated corpus is stamped into the member name (and so into the
    // output's `model` column and the CV ranking): a recall-degraded
    // knn member competes under an honest label — selection in `run`
    // matches on the base name ([[EliteDeep.baseName]]); consumers of
    // the model column strip the stamp the same way
    def knnMember(name: String, k: Int, lags: Int,
                  xform: Option[ForecastPipeline.Step]) = Member(
      if (knnCorpusFraction < 1.0) f"$name@cf$knnCorpusFraction%.4f" else name,
      () => batchKnn.get(name).map(_._1).getOrElse(
        Conformal.backtest(p, timeCol, testSize, nSplits, stepSize,
          knnFit(lags, k, xform), prePositioned = Some(sharedPositioned))),
      () => batchKnn.get(name).map(_._2).getOrElse(
        knnFit(lags, k, xform)(p, fh)))
    Seq(
      Member("naive",
        () => AutoForecast.backtestNaivePrefix(p, timeCol, 1, testSize, nSplits,
          stepSize, prePositioned = Some(sharedLag)),
        () => Forecasters.naive(p, timeCol, fh, freq)),
      Member("snaive",
        () => AutoForecast.backtestNaivePrefix(p, timeCol, sp, testSize, nSplits,
          stepSize, prePositioned = Some(sharedLag)),
        () => Forecasters.snaive(p, timeCol, fh, sp, freq)),
      linearMember("linear_7", 7),
      linearMember("linear_14", 14),
      // ridge at lags {3, 7}: model diversity at bounded oracle cost —
      // every extra lag deepens the per-split Cholesky chains, and the
      // DuckDB binder caps ~1000 chained CTEs per WITH (SKILL.md), so
      // the zoo trades lag depth for family breadth
      linearMember("ridge_3", 3, ridge = 0.1),
      linearMember("ridge_7", 7, ridge = 0.1),
      cdMember("lasso_7", 7, alpha = 0.1, l1Ratio = 1.0, sweeps = cdSweeps),
      cdMember("elastic_net_7", 7, alpha = 0.1, l1Ratio = 0.5, sweeps = cdSweeps),
      // elite.py:97-109 ("AR models with local scaling" / "first
      // differences") and :148-157 ("linear detrended")
      pipePrefixMember("linear_scaled_7", PrefixBacktest.ScaleT,
        Seq(ForecastPipeline.scaleStep()), 7),
      pipeMember("linear_diff_7", Seq(ForecastPipeline.diffStep()), 7),
      pipePrefixMember("linear_detrend_7", PrefixBacktest.DetrendT,
        Seq(ForecastPipeline.detrendLinearStep), 7),
      // ridge × transform grid slices (elite.py:110-147's
      // ridge_scaled / ridge_detrend analogs; closed-form, so the
      // oracle rides the same transformed-Cholesky chains)
      pipePrefixMember("ridge_scaled_7", PrefixBacktest.ScaleT,
        Seq(ForecastPipeline.scaleStep()), 7, alpha = 0.1),
      pipePrefixMember("ridge_detrend_7", PrefixBacktest.DetrendT,
        Seq(ForecastPipeline.detrendLinearStep), 7, alpha = 0.1),
      // lasso × transform slices (elite.py:98-147's lasso_scaled /
      // lasso_diff / lasso_detrend analogs; CD refit per train slice
      // behind the same target transforms)
      pipePrefixMember("lasso_scaled_7", PrefixBacktest.ScaleT,
        Seq(ForecastPipeline.scaleStep()), 7, alpha = 0.1, l1Ratio = 1.0),
      pipePrefixMember("lasso_detrend_7", PrefixBacktest.DetrendT,
        Seq(ForecastPipeline.detrendLinearStep), 7, alpha = 0.1, l1Ratio = 1.0),
      pipePrefixMember("lasso_demean_7", PrefixBacktest.DemeanT,
        Seq(ForecastPipeline.detrendMeanStep), 7, alpha = 0.1, l1Ratio = 1.0),
      // elite.py:92-95 "AR linear models without drift"
      // (fit_intercept=False — the no-intercept normal equations)
      linearMember("linear_nodrift_7", 7, drift = false),
      linearMember("ridge_nodrift_3", 3, ridge = 0.1, drift = false),
      cdNoDriftMember("lasso_nodrift_7", 7, alpha = 0.1, l1Ratio = 1.0),
      // elite.py:98-103's remaining diff slices
      pipeMember("ridge_diff_7", Seq(ForecastPipeline.diffStep()), 7,
        alpha = 0.1),
      pipeMember("lasso_diff_7", Seq(ForecastPipeline.diffStep()), 7,
        alpha = 0.1, l1Ratio = 1.0),
      // elite.py:139-147 "Mean detrended models"
      pipePrefixMember("linear_demean_7", PrefixBacktest.DemeanT,
        Seq(ForecastPipeline.detrendMeanStep), 7),
      pipePrefixMember("ridge_demean_7", PrefixBacktest.DemeanT,
        Seq(ForecastPipeline.detrendMeanStep), 7, alpha = 0.1),
      // elite.py:104-137 "AR models with Fourier terms"
      // (feature_transform=add_fourier_terms). The DEFAULT K=2 over
      // lags=3 is a deliberate scale-down of the reference defaults
      // (K=6, and K=12 for the detrend-fourier family, over the
      // constructor's lags — elite.py:104-164): like the fixed alphas
      // standing in for the *_cv members, it bounds the DuckDB
      // oracle's per-member CTE chains (the binder caps ~1000 chained
      // CTEs per WITH) while keeping one member per reference family.
      // Reference-depth callers pass `fourierK` (> 0): the plain and
      // scaled families then run K = min(fourierK, sp−1) and the
      // detrend family the reference's doubled K = min(2·fourierK,
      // sp−1) — fourierK = 6 reproduces elite.py's K=6/K=12 tiering
      // (capped below sp, FourierLinear's identifiability bound).
      // `deepLags` additionally appends a caller-depth fourier member.
      fourierMember("linear_fourier_3", lags = 3, kTerms = kF),
      fourierMember("ridge_fourier_3", lags = 3, kTerms = kF, ridge = 0.1),
      fourierMember("lasso_fourier_3", lags = 3, kTerms = kF, ridge = 0.1,
        l1Ratio = 1.0),
      pipeFourierMember("linear_scaled_fourier_3", PrefixBacktest.ScaleT,
        Seq(ForecastPipeline.scaleStep()), 3, kTerms = kF),
      pipeFourierMember("ridge_scaled_fourier_3", PrefixBacktest.ScaleT,
        Seq(ForecastPipeline.scaleStep()), 3, kTerms = kF, ridge = 0.1),
      pipeFourierMember("lasso_scaled_fourier_3", PrefixBacktest.ScaleT,
        Seq(ForecastPipeline.scaleStep()), 3, kTerms = kF, ridge = 0.1,
        l1Ratio = 1.0),
      pipeFourierMember("linear_detrend_fourier_3", PrefixBacktest.DetrendT,
        Seq(ForecastPipeline.detrendLinearStep), 3, kTerms = kFD),
      pipeFourierMember("ridge_detrend_fourier_3", PrefixBacktest.DetrendT,
        Seq(ForecastPipeline.detrendLinearStep), 3, kTerms = kFD, ridge = 0.1),
      pipeFourierMember("lasso_detrend_fourier_3", PrefixBacktest.DetrendT,
        Seq(ForecastPipeline.detrendLinearStep), 3, kTerms = kFD, ridge = 0.1,
        l1Ratio = 1.0),
      // elite.py:83-88 "Seasonality" knn members, n_neighbors = lags//2
      knnMember("knn_3", k = 3, lags = 7, xform = None),
      knnMember("knn_scaled_3", k = 3, lags = 7,
        xform = Some(ForecastPipeline.scaleStep())),
      // elite.py:85-88 knn_detrend_linear
      knnMember("knn_detrend_3", k = 3, lags = 7,
        xform = Some(ForecastPipeline.detrendLinearStep))) ++
      // caller-depth members (the reference zoo inherits the
      // forecaster's lag budget, elite.py:80-164 — commonly 24+; the
      // fixed-lag members above are the oracle-rankable sub-zoo).
      // One member per family at the caller's depth; fourier at the
      // reference's K=6 capped below sp (FourierLinear requires
      // K < sp); knn at the reference's n_neighbors = lags//2
      // (elite.py:83-88).
      (if (deepLags <= 0) Nil else {
        val d = deepLags
        Seq(
          linearMember(s"linear_$d", d),
          linearMember(s"ridge_$d", d, ridge = 0.1),
          cdMember(s"lasso_$d", d, alpha = 0.1, l1Ratio = 1.0, sweeps = cdSweeps),
          pipePrefixMember(s"linear_scaled_$d", PrefixBacktest.ScaleT,
            Seq(ForecastPipeline.scaleStep()), d),
          pipePrefixMember(s"linear_detrend_$d", PrefixBacktest.DetrendT,
            Seq(ForecastPipeline.detrendLinearStep), d)) ++
          (if (sp > 2) Seq(fourierMember(s"linear_fourier_$d", lags = d,
            kTerms = math.min(6, sp - 1))) else Nil) ++
          Seq(knnMember(s"knn_deep_${d / 2}", k = math.max(1, d / 2), lags = d,
            xform = None))
      })
  }

  /** Names of the caller-depth members [[run]]'s `deepLags` adds —
    * appended to the default selection when `models` is left at
    * [[allModels]], or composable explicitly. */
  def deepModels(deepLags: Int, sp: Int = 7): Seq[String] = {
    val d = deepLags
    Seq(s"linear_$d", s"ridge_$d", s"lasso_$d", s"linear_scaled_$d",
      s"linear_detrend_$d") ++
      (if (sp > 2) Seq(s"linear_fourier_$d") else Nil) :+
      s"knn_deep_${d / 2}"
  }

  /** Every zoo member name, in registry order. */
  val allModels: Seq[String] = Seq("naive", "snaive", "linear_7", "linear_14",
    "ridge_3", "ridge_7", "lasso_7", "elastic_net_7",
    "linear_scaled_7", "linear_diff_7", "linear_detrend_7",
    "ridge_scaled_7", "ridge_detrend_7",
    "lasso_scaled_7", "lasso_detrend_7", "lasso_demean_7",
    "linear_nodrift_7", "ridge_nodrift_3", "lasso_nodrift_7",
    "ridge_diff_7", "lasso_diff_7",
    "linear_demean_7", "ridge_demean_7",
    "linear_fourier_3", "ridge_fourier_3", "lasso_fourier_3",
    "linear_scaled_fourier_3", "ridge_scaled_fourier_3",
    "lasso_scaled_fourier_3",
    "linear_detrend_fourier_3", "ridge_detrend_fourier_3",
    "lasso_detrend_fourier_3",
    "knn_3", "knn_scaled_3", "knn_detrend_3")

  /** The closed-form/naive/CD members — the sub-zoo the DuckDB oracle
    * can rank inside one WITH (the pipeline/knn members are oracled
    * separately in fc_elite_pipe / fc_elite_knn; the binder caps
    * ~1000 chained CTEs per statement). */
  val linearFamily: Seq[String] = Seq("naive", "snaive", "linear_7", "linear_14",
    "ridge_3", "ridge_7", "lasso_7", "elastic_net_7")

  /** Run the deep elite. `strategy` ∈ {"mean", "lasso", "log_lasso"}.
    * Stacker regularization (lasso strategies): `stackCriterion`
    * "lars-aic"/"lars-bic" is the reference-faithful mode
    * (sklearn LassoLarsIC — path-exact LARS knots, noise-variance-
    * scaled criterion, elite.py:304-308); the default "cd" keeps the
    * deterministic SQL-oracle modes (fixed `stackAlpha`, or — when
    * `stackAlphaGrid` is supplied — the grid-AIC sweep, whose
    * UNSCALED n·ln(RSS/n)+2df criterion can pick a different alpha
    * than sklearn's: see Ols.lassoAicCD's caveat and the
    * EliteDeepSpec case where the two disagree).
    * Returns (entity…, timeCol, value).
    *
    * `knnCorpusFraction` < 1 runs every knn member against a
    * deterministic entity-hash SUBSET of the corpus (recall-bounded
    * mode, [[KnnForecaster.corpusKeep]]): the zoo ranks members by CV
    * score, so a recall-degraded knn member that loses its rank loses
    * it honestly — what lets the FULL 35-member zoo complete at 1M
    * entities on one box (the in-zoo knn pair-work, ∝ corpus ×
    * queries per step, is the measured box limit: ~6 h/roll ungated,
    * SCALE.md). The fraction is stamped into the member name (model
    * column reads e.g. `knn_3@cf0.05`); fraction = 1 is bitwise the
    * ungated path. */
  def run(p: Panel, timeCol: String, freq: String, fh: Int, topK: Int,
          strategy: String = "mean", testSize: Int = 5, nSplits: Int = 2,
          stepSize: Int = 5, sp: Int = 7, cdSweeps: Int = 8,
          stackAlpha: Double = 0.01, stackSweeps: Int = 15,
          stackAlphaGrid: Seq[Double] = Nil,
          stackCriterion: String = "cd",
          models: Seq[String] = allModels,
          deepLags: Int = 0,
          fourierK: Int = 0,
          knnCorpusFraction: Double = 1.0): DataFrame = {
    require(deepLags <= 0 || deepLags > 14,
      s"deepLags must exceed the default zoo's max depth 14 (got $deepLags)")
    // "log_lasso" is accepted for API parity: in the reference both
    // lasso strategies take the identical code path (elite.py:304-308
    // and :367-368 — same LassoLarsIC fit/predict, no log transform
    // anywhere), so it is an alias of "lasso" here too.
    require(strategy == "mean" || strategy == "lasso" || strategy == "log_lasso",
      s"eliteDeep strategy must be 'mean', 'lasso' or 'log_lasso' (got '$strategy')")
    // validate the stacker knobs UP FRONT — a typo'd criterion must
    // fail in milliseconds, not after every zoo member has backtested
    // (round-10 review); and a grid combined with a lars criterion
    // would be silently ignored, so reject the combination loud
    require(Set("cd", "lars-aic", "lars-bic")(stackCriterion),
      s"stackCriterion must be cd, lars-aic or lars-bic (got '$stackCriterion')")
    require(stackCriterion == "cd" || stackAlphaGrid.isEmpty,
      "stackAlphaGrid is the grid-AIC ('cd') mode's knob — it is not " +
        s"read under stackCriterion='$stackCriterion'; drop one of the two")
    // moment-sharing scope (r15): zoo members whose fits consume the
    // IDENTICAL (slice, features, label) Gram — linear vs ridge vs
    // lasso/elastic-net at one lag depth, the transform trios — run
    // ONE moment job instead of one each (Ols.gramMoments memoizes on
    // the canonicalized plan for the duration of this run)
    graft.functions.Ols.withMomentSharing {
    val cached = p.copy(df = p.df.cache())
    // materializes the panel cache (the first action would anyway) and
    // sizes the member-concurrency policy below
    val nRows = cached.df.count()
    // the shared lag frame carries columns up to the deepest member's
    // budget; 14 is the default zoo's max (the trade documented at the
    // fourier members: oracle CTE depth vs lag depth)
    val maxLinLags = math.max(14, deepLags)
    val sharedLag = CrossValidation
      .withPosition(cached.copy(df = Preprocess.lagKeepAll(cached, 1 to maxLinLags)))
      .cache()
    // checkpointed intermediates created by the batched knn runner —
    // released after `res` materializes, with the member frames
    val releases = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // Scoped periodic GC for big zoos (SCALE.md r9: the 1M-entity
    // full-zoo soak died on disk without it): ContextCleaner only
    // reclaims dead shuffle files / checkpoint blocks when a JVM GC
    // drops their weak refs, and spark.cleaner.periodicGC.interval
    // (default 30 min) is read ONCE at SparkContext start — nothing an
    // operator can set post-hoc. A large zoo turns over tens of GB of
    // member-fit shuffle state between natural old-gen collections, so
    // run a 60 s System.gc() ticker for the run's duration. Gated on
    // zoo size: the registry's small-zoo queries must not pay a full
    // 128 GB-heap GC per bench rep.
    var gcTicker: Option[java.util.concurrent.ScheduledExecutorService] = None
    var memberPoolRef: Option[java.util.concurrent.ExecutorService] = None
    var knnPoolRef: Option[java.util.concurrent.ExecutorService] = None
    try {
      // deepLags with the selection left at the default: the deep
      // members join the zoo rather than being silently filtered out
      // (resolved BEFORE zoo construction — the batched knn runner
      // needs to know which knn members are actually in play)
      val selected =
        if (deepLags > 0 && models == allModels) models ++ deepModels(deepLags, sp)
        else models
      val all = zoo(cached, sharedLag, timeCol, freq, sp, fh,
        testSize, nSplits, stepSize, cdSweeps, deepLags, fourierK,
        selected, releases, knnCorpusFraction)
      // selection matches on the BASE name ([[EliteDeep.baseName]]) —
      // a gated knn member's name carries the @cf<fraction> recall
      // stamp, but callers select it by its plain zoo name
      val unknown = selected.filterNot(all.map(m => baseName(m.name)).contains)
      require(unknown.isEmpty, s"unknown eliteDeep models: ${unknown.mkString(", ")}")
      val members = all.filter(m => selected.contains(baseName(m.name)))
      if (members.size >= 16) {
        val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
          (r: Runnable) => { val t = new Thread(r, "elite-gc-ticker")
            t.setDaemon(true); t })
        // SELF-DISABLING: on a large heap without
        // -XX:+ExplicitGCInvokesConcurrent, System.gc() is a FULL STW
        // collection — measured 158 s on a loaded 72 GB heap, which
        // blows Spark's 120 s executor heartbeat timeout and kills the
        // app (r11 1M-entity soak post-mortem). A ticker pass that
        // stalls the JVM longer than 10 s costs more than the shuffle
        // files it frees; stop ticking and leave cleanup to natural
        // collections (big-heap soak runs should pass
        // -XX:+ExplicitGCInvokesConcurrent, making this a cheap
        // concurrent cycle that never trips the guard).
        ex.scheduleWithFixedDelay(() => {
          val t0 = System.nanoTime()
          System.gc()
          if ((System.nanoTime() - t0) / 1e9 > 10.0) {
            System.err.println("[elite-gc-ticker] System.gc() exceeded 10 s " +
              "(full STW heap collection) - disabling the ticker; run large " +
              "zoos with -XX:+ExplicitGCInvokesConcurrent")
            ex.shutdown()
          }
        }, 60L, 60L, java.util.concurrent.TimeUnit.SECONDS)
        gcTicker = Some(ex)
      }
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      // member backtests and full-data predictions are independent
      // distributed jobs — overlap them all (the elite pattern), and
      // MATERIALIZE each member's result inside its future: the frames
      // are tiny (entities × splits × testSize, entities × fh) but the
      // plans behind them are not, and the lasso stacker references the
      // member unions several times (train pivot, actual re-attach,
      // moment collect, full pivot, fallback) — without the checkpoint
      // every reference re-ran all eight member plans (fc_elite_stack
      // 34.8 s vs fc_elite_deep's 6.5 s on the same zoo, r8 bench).
      //
      // CONCURRENCY IS DISK at scale: every in-flight member holds
      // transient panel-width state until its checkpoint lands (a
      // positioned backtest frame or a transformed pipeline cache, a
      // few GB each at 1M entities) — 35 members at once is 80+ GB of
      // simultaneous scratch, the r11 soak's second disk death. Past
      // 20M panel rows, run the member futures on a bounded pool: 6
      // in-flight members keep the transient sum ~O(30 GB) while the
      // inner split/fit futures still use the global pool, so each
      // member remains internally parallel.
      val bigPanel = nRows >= 20000000L
      def daemonPool(n: Int, tag: String) =
        java.util.concurrent.Executors.newFixedThreadPool(n,
          (r: Runnable) => { val t = new Thread(r, tag); t.setDaemon(true); t })
      memberPoolRef = if (bigPanel) Some(daemonPool(6, "elite-member-pool")) else None
      implicit val memberEc: ExecutionContext = memberPoolRef
        .map(ExecutionContext.fromExecutorService)
        .getOrElse(ExecutionContext.global)
      // knn members past the exact-entity cap each run a DISTRIBUTED
      // recursive IVF roll — per-step corpus-scan shuffles plus state
      // checkpoints. Each roll saturates the cluster on its own, so
      // overlapping six multiplies transient scratch ~6× for no wall
      // win (one r11 soak death) — while starting them EARLY starves
      // every other member behind the rolls' continuous per-step job
      // stream under FIFO scheduling (the next soak stall). Big
      // panels therefore run the knn family as a strictly-later
      // PHASE: the rolls wait for the other members' futures, then at
      // most two roll at a time.
      knnPoolRef = if (bigPanel) Some(daemonPool(2, "elite-knn-pool")) else None
      val knnEc: ExecutionContext = knnPoolRef
        .map(ExecutionContext.fromExecutorService)
        .getOrElse(memberEc)
      // operational telemetry for big-panel runs (the r11 soak triage tool)
      def logDone(kind: String, name: String, t0: Long): Unit = if (bigPanel)
        System.err.println(f"[elite] $kind $name done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      def btBody(m: Member): (String, DataFrame) = {
        val t0 = System.nanoTime()
        val r = m.name -> m.backtest().withColumn("model", lit(m.name))
          .localCheckpoint(true)
        logDone("backtest", m.name, t0)
        r
      }
      def fullBody(m: Member): DataFrame = {
        val t0 = System.nanoTime()
        val r = m.full().withColumn("model", lit(m.name)).localCheckpoint(true)
        logDone("full-fit", m.name, t0)
        r
      }
      // registry-scale panels: everything overlaps on one pool (the
      // proven elite shape, bitwise-pinned by the fc_elite* oracles —
      // knnMembers is empty there so ordering is untouched). Big
      // panels: knn rolls form the later phase described above.
      val (knnMembers, otherMembers) =
        if (bigPanel) members.partition(_.name.startsWith("knn"))
        else (Seq.empty[Member], members)
      val btOthersF = Future.sequence(otherMembers.map(m => Future(btBody(m))))
      val predOthersF = Future.sequence(otherMembers.map(m => Future(fullBody(m))))
      val othersDoneF = btOthersF.zip(predOthersF)
      val btKnnF = Future.sequence(knnMembers.map(m => Future {
        Await.ready(othersDoneF, Duration.Inf); btBody(m)
      }(knnEc)))
      val predKnnF = Future.sequence(knnMembers.map(m => Future {
        Await.ready(othersDoneF, Duration.Inf); fullBody(m)
      }(knnEc)))
      val btF = btOthersF.zip(btKnnF).map { case (a, b) => a ++ b }(knnEc)
      val predsF = predOthersF.zip(predKnnF).map { case (a, b) => a ++ b }(knnEc)
      val bts = Await.result(btF, Duration.Inf)
      val scores = bts.map { case (name, bt) =>
        AutoForecast.backtestScore(bt, p.entity).withColumn("model", lit(name))
      }.reduce(_ unionByName _)
      // deterministic per-entity rank: smape asc nulls last, model name
      // as tie-break (constant series backtest identically everywhere)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(p.entityCols: _*)
        .orderBy(col("smape").asc_nulls_last, col("model"))
      // entities × topK rows, joined into every downstream pivot —
      // materialize so the score union + window rank run exactly once
      val ranked = scores.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= topK)
        .select((p.entityCols ++ Seq(col("model"), col("__rk"))): _*)
        .localCheckpoint(true)
      val preds = Await.result(predsF, Duration.Inf).reduce(_ unionByName _)
      val out = strategy match {
        case "mean" =>
          // top-k participation blend (the proven fc_elite semantic:
          // average over the entity's PRESENT top-k predictions)
          preds.join(ranked.drop("__rk"), p.entity :+ "model")
            .groupBy((p.entityCols :+ col(timeCol)): _*)
            .agg(avg(col(p.value)).as(p.value))
        case "lasso" | "log_lasso" =>
          stackLasso(cached, timeCol, bts.map(_._2), preds, ranked, topK,
            stackAlpha, stackSweeps, stackAlphaGrid, stackCriterion,
            hasNaive = members.exists(_.name == "naive"))
      }
      // eager materialization (entities × fh rows) so the caches can
      // be released here rather than leaking past the call
      val res = out.localCheckpoint(eager = true)
      // free every intermediate checkpoint now that the result is its
      // own block: member backtests/predictions, the rank set, and
      // (lasso) the stacker's internal result frame — without this
      // each run() pinned ~2·members+2 checkpointed block sets until
      // the ContextCleaner happened to GC them (the r7 bench-pressure
      // source that Bench papers over with its global sweep)
      (bts.map(_._2) ++ Seq(preds, ranked, out) ++ releases).foreach(releaseCheckpoint)
      res
    } finally {
      gcTicker.foreach(_.shutdownNow())
      memberPoolRef.foreach(_.shutdownNow())
      knnPoolRef.foreach(_.shutdownNow())
      sharedLag.unpersist(blocking = false)
      cached.df.unpersist(blocking = false)
    }
    } // withMomentSharing
  }

  /** The lasso stacker: rank-pivot the CV predictions into
    * f_1..f_topK columns per (entity, split, time) — split stays a
    * key so overlapping test windows never collapse — fit the global
    * CD lasso against the actuals on rows where ALL ranks predicted,
    * score the rank-pivoted full predictions, and apply the naive
    * fallback for entities whose rank-1 model is naive. */
  private def stackLasso(p: Panel, timeCol: String, bts: Seq[DataFrame],
                         preds: DataFrame, ranked: DataFrame, topK: Int,
                         alpha: Double, sweeps: Int,
                         alphaGrid: Seq[Double] = Nil,
                         criterion: String = "cd",
                         hasNaive: Boolean = true): DataFrame = {
    val feats = (1 to topK).map(i => s"f_$i")
    val featsT = feats :+ "trend"
    val btAll = bts.reduce(_ unionByName _)
    def pivot(df: DataFrame, valueCol: String, keys: Seq[String]): DataFrame =
      df.join(ranked, p.entity :+ "model")
        .groupBy(keys.map(col): _*)
        .agg(max(when(col("__rk") === 1, col(valueCol))).as("f_1"),
          (2 to topK).map(i =>
            max(when(col("__rk") === i, col(valueCol))).as(s"f_$i")): _*)
    // the reference's X_stack carries a per-entity `trend` regressor
    // (elite.py:210-213: arg_sort of the time column over the entity,
    // 0-based) computed over ALL pivot rows, BEFORE any
    // incomplete-row filtering — replicated on both pivots here.
    // NOTE (inherited quirk, not a modeling choice): the reference
    // rebuilds that arg_sort per X_stack, so the trend RESTARTS at 0
    // on the predict pivot instead of continuing from the training
    // span — the fitted trend coefficient is applied
    // out-of-distribution at predict time. We replicate the restart
    // for parity; a from-scratch design would offset the predict
    // trend by the training length.
    // TRAIN rows are keyed (entity, split, time): with overlapping
    // test windows (stepSize < testSize) the same (entity, time) can
    // appear under two splits, so the train trend MUST order by
    // (split, time) — matching the oracle's ORDER BY split, h — or
    // the rank is nondeterministic across runs. The full pivot's keys
    // are unique per (entity, time), so it orders by time alone.
    val wTrendTrain = org.apache.spark.sql.expressions.Window
      .partitionBy(p.entityCols: _*).orderBy(col("split"), col(timeCol))
    val wTrend = org.apache.spark.sql.expressions.Window
      .partitionBy(p.entityCols: _*).orderBy(col(timeCol))
    val trainKeys = p.entity ++ Seq("split", timeCol)
    val stackTrain = pivot(btAll, "pred", trainKeys)
      // the actual is identical across members at a (entity, split,
      // time) — re-attach it from any one backtest row
      .join(btAll.groupBy(trainKeys.map(col): _*).agg(max(col("actual")).as("__y")),
        trainKeys)
      .withColumn("trend", (row_number().over(wTrendTrain) - 1).cast("double"))
      .na.drop(feats)
    // three stacker-fit modes, all one data pass over the same moments:
    //  - criterion "lars-aic"/"lars-bic": the sklearn-faithful
    //    LassoLarsIC — path-exact LARS knots scored by the
    //    noise-variance-scaled criterion (elite.py:304-308's actual
    //    regressor). The reference-faithful mode.
    //  - criterion "cd" + alphaGrid: the deterministic grid-AIC sweep
    //    (lassoAicCD) — the SQL-oracle mode (fc_elite_stack_ic).
    //  - criterion "cd", no grid: fixed-alpha CD (fc_elite_stack).
    val (b0, ws) = criterion match {
      case "lars-aic" | "lars-bic" =>
        val (_, i, w) = graft.functions.Ols.lassoLarsIC(stackTrain, featsT,
          "__y", criterion.stripPrefix("lars-"))
        (i, w)
      case "cd" if alphaGrid.isEmpty =>
        graft.functions.Ols.elasticNetCD(stackTrain, featsT, "__y",
          alpha = alpha, l1Ratio = 1.0, sweeps = sweeps)
      case "cd" =>
        val (_, i, w) = graft.functions.Ols.lassoAicCD(stackTrain, featsT, "__y",
          alphaGrid, sweeps)
        (i, w)
      case other => throw new IllegalArgumentException(
        s"stackCriterion must be cd, lars-aic or lars-bic (got '$other')")
    }
    // entities × fh rows, read three times below (stack scoring, the
    // incomplete-pivot fallback scan, and the anti-join) — materialize
    val stackAll = pivot(preds, p.value, p.entity :+ timeCol)
      .withColumn("trend", (row_number().over(wTrend) - 1).cast("double"))
      .localCheckpoint(true)
    // (b0 + w1·f1 + … + wk·fk + w_{k+1}·trend) — the oracle's
    // left-fold order
    val yhat = {
      import graft.functions.StableConst.{double => sd}
      ws.zipWithIndex.foldLeft(sd(b0): org.apache.spark.sql.Column) {
        case (acc, (wi, i)) => acc + sd(wi) * col(featsT(i))
      }
    }
    val stacked = stackAll.na.drop(feats)
      .select((p.entityCols ++ Seq(col(timeCol), yhat.as(p.value))): _*)
    // elite.py:365-374: entities whose best CV model is the naive
    // random walk get the pure naive forecast, not the stack. Entities
    // whose rank pivot is INCOMPLETE anywhere (fewer than topK
    // non-null full predictions — e.g. a top-k member produced null
    // for a degenerate series) also fall back rather than vanishing
    // from the output. The fallback forecast is naive's when naive is
    // among the members (the reference always fits it, elite.py:235);
    // a zoo run WITHOUT naive falls back to each entity's rank-1
    // member instead — same rows, never a silently dropped entity.
    val incomplete = stackAll
      .filter(feats.map(col(_).isNull).reduce(_ || _))
      .select(p.entityCols: _*).distinct()
    val rw = ranked.filter(col("__rk") === 1 && col("model") === "naive")
      .select(p.entityCols: _*)
      .unionByName(incomplete).distinct()
    val fallbackPreds =
      if (hasNaive)
        preds.filter(col("model") === "naive")
          .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)
      else
        preds.join(ranked.filter(col("__rk") === 1), p.entity :+ "model")
          .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)
    val result = fallbackPreds.join(rw, p.entity, "leftsemi")
      .unionByName(stacked.join(rw, p.entity, "leftanti"))
      // entities × fh rows — materialize so stackAll's checkpoint
      // blocks can be released before returning (run()'s own eager
      // checkpoint would otherwise be the first thing to force this
      // plan, with stackAll already gone)
      .localCheckpoint(true)
    releaseCheckpoint(stackAll)
    result
  }

  /** Free the block-manager storage behind a localCheckpoint'ed frame
    * (Dataset.unpersist only clears CacheManager entries; checkpoint
    * RDDs otherwise linger until the ContextCleaner GC-discovers
    * them — the round-7 bench-pressure source). Shared with the
    * distributed KNN roll, which has the same eager-result /
    * release-intermediates lifecycle. */
  private[operators] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))
}
