package graft.operators

import graft.core.Panel
import org.apache.spark.sql.DataFrame

/** Global linear AR forecaster (reference: functime/forecasting/linear.py
  * + base/forecaster.py fit/predict pipeline).
  *
  * fit: AR-reduction matrix (lags 1..L per entity) → ONE moment pass:
  * closed-form Cholesky for OLS/ridge, cyclic coordinate descent on
  * the same moments for lasso/elastic-net (sklearn semantics — the
  * reference's linear/lasso/ridge/elastic_net family, linear.py:90-203)
  * — never an iterative multi-pass solver over the data.
  *
  * predict: the fitted coefficients are tiny, so the recursive
  * multi-step loop broadcasts them and runs as unrolled column algebra
  * per entity — one Spark job for all fh steps
  * ([[Forecasters.predictRecursiveLinear]]), instead of the
  * reference's driver-side per-step loop (_ar.py:216-270).
  */
final case class LinearForecasterModel(
    intercept: Double, weights: Array[Double], lags: Int, freq: String) {
  def predict(p: Panel, timeCol: String, fh: Int): DataFrame =
    Forecasters.predictRecursiveLinear(p, timeCol, fh, freq, intercept, weights)
}

object LinearForecaster {

  def fit(p: Panel, lags: Int, freq: String,
          regParam: Double = 0.0, elasticNetParam: Double = 0.0,
          cdSweeps: Int = 40): LinearForecasterModel = {
    val reduction = Forecasters.makeReduction(p, lags)
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
    val (b0, w) =
      if (elasticNetParam == 0.0)
        // pure OLS and pure-L2 ridge are closed-form normal equations
        // (graft.functions.Ols; ridge = λ on the non-intercept
        // diagonal, sklearn-Ridge semantics — the reference's backend)
        graft.functions.Ols.fit(reduction, featureCols, p.value, ridge = regParam)
      else
        // L1/elastic-net: cyclic coordinate descent on the SAME
        // one-pass moments (sklearn ElasticNet semantics) — still a
        // single pass over the data at any scale
        graft.functions.Ols.elasticNetCD(reduction, featureCols, p.value,
          alpha = regParam, l1Ratio = elasticNetParam, sweeps = cdSweeps)
    LinearForecasterModel(b0, w, lags, freq)
  }

  /** Sample-weighted fit — the reference's `weight_transform` hook
    * (lightgbm.py:50 / catboost.py:28 / _regressors.py:19-42 pipe the
    * target frame through a user callable to produce per-row sample
    * weights; base/model.py:48 threads them into `fit`). Spark-first
    * analog: the caller supplies a Column EXPRESSION over the
    * per-entity position — `(rn, cnt) => weight`, rn 1-based in time
    * order, cnt the series length — e.g. recency weighting
    * `(rn, cnt) => lit(1.0) / (lit(1.0) + (cnt - rn) / lit(14.0))`.
    * WLS on the same one-pass (weighted) moments ([[graft.functions
    * .Ols.fitWeighted]]); the fitted model predicts through the same
    * recursive path. */
  def fitWeighted(p: Panel, lags: Int, freq: String,
                  weight: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
                    => org.apache.spark.sql.Column): LinearForecasterModel = {
    import org.apache.spark.sql.functions.col
    val reduction = Forecasters.makeReduction(p, lags)
    // positions over the reduction equal positions over the raw panel
    // (the lag projection preserves rows and ordering columns)
    val pos = CrossValidation.withPosition(p.copy(df = reduction))
      .withColumn("__wgt", weight(col("__rn"), col("__cnt")))
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
    val (b0, w) =
      graft.functions.Ols.fitWeighted(pos, featureCols, p.value, "__wgt")
    LinearForecasterModel(b0, w, lags, freq)
  }

  /** "ensemble" strategy — _ar.py:83-114, :356-371: the recursive and
    * direct models fit independently, predictions averaged per
    * (entity, step). ONE null-keeping lag pass feeds all fh + 1
    * closed-form fits, and ONE moment pass ([[graft.functions.Ols.fitSets]])
    * folds them all: the recursive model's training set is the rows
    * with f1..f_lags and the label complete (Ols.fit's na.drop), each
    * direct model's is the rows past the full lags+fh−1 warmup
    * (`lag_{lags+fh−1} IS NOT NULL`, which passes NaN) with its own
    * shifted window complete — so sharing the pass changes no model's
    * rows. */
  def fitEnsemble(p: Panel, lags: Int, fh: Int, freq: String): EnsembleLinearModel = {
    import graft.functions.Ols.MomentSet
    val lagCol = (l: Int) => s"${p.value}__lag_$l"
    val warm = lagCol(lags + fh - 1)
    val all = graft.functions.Ols.fitSets(
      Preprocess.lagKeepAll(p, 1 to (lags + fh - 1)),
      MomentSet((1 to lags).map(lagCol), p.value) +:
        (1 to fh).map(h => MomentSet((h until h + lags).map(lagCol), p.value, Seq(warm))))
    EnsembleLinearModel(
      LinearForecasterModel(all.head._1, all.head._2, lags, freq),
      DirectLinearModel(all.tail, lags, freq))
  }

  /** Direct multi-horizon strategy — _ar.py:53-73: one model per
    * horizon h, trained on the lag window shifted by h (features
    * y_{t−h}..y_{t−h−L+1} → label y_t). All fh models fit in ONE moment
    * pass over one wide reduction ([[graft.functions.Ols.fitSets]]),
    * each over its own `na.drop(features_h :+ label)` rows — the
    * reference's per-model training rows. At predict time every model
    * scores the same per-entity tail [y_cutoff..y_{cutoff−L+1}], so
    * the whole fh-horizon prediction is broadcast column algebra —
    * one job, no recursion error compounding. */
  def fitDirect(p: Panel, lags: Int, fh: Int, freq: String): DirectLinearModel = {
    val models = graft.functions.Ols.fitSets(
      Forecasters.makeReduction(p, lags + fh - 1),
      (1 to fh).map(h => graft.functions.Ols.MomentSet(
        (h until h + lags).map(l => s"${p.value}__lag_$l"), p.value)))
    DirectLinearModel(models, lags, freq)
  }
}

/** One (intercept, weights-over-tail) pair per horizon step. */
final case class DirectLinearModel(
    models: Seq[(Double, Array[Double])], lags: Int, freq: String) {
  import org.apache.spark.sql.functions._

  def predict(p: Panel, timeCol: String, fh: Int): DataFrame = {
    require(fh <= models.length, s"fitted for ${models.length} horizons")
    // each horizon's model scores the same tail: Σ w·state, then + b0
    // (the oracle's association; every weight kept, zeros included),
    // coefficients through StableConst (see Forecasters.affineExpr)
    val preds = models.take(fh).map { case (b0, w) =>
      import graft.functions.StableConst.{double => sd}
      w.zipWithIndex.map { case (wc, i) => sd(wc) * element_at(col("__state"), i + 1) }
        .reduce(_ + _) + sd(b0)
    }
    val state0 = Forecasters.tailState(p, timeCol, lags)
    Forecasters.horizonRows(state0.withColumn("__preds", array(preds: _*)),
      p, timeCol, fh, freq, col("__preds"))
  }
}

/** Linear AR forecaster with ARBITRARY exogenous regressors — the
  * reference's general `fit(y, X)` / `predict(fh, X_future)` contract
  * (_reduction.py:32 joins X onto the lag matrix;
  * base/forecaster.py:178-205 threads the user-supplied future X into
  * predict). The caller provides the exog columns on the panel frame
  * for fit, and a (entity, time, exog...) frame covering the fh
  * future steps for predict.
  *
  * Scale shape: fit is one moment pass over the lag+exog reduction
  * (the exog projection is materialized first — see ExogDowLinear.fit
  * on why CASE-heavy exog expressions must not collapse into the d²/2
  * moment products). Predict joins the per-entity exog contribution
  * vector (fh doubles, from one groupBy over the future frame) onto
  * the lag tail and unrolls the recursion as flat column algebra —
  * one equi-join shuffle on entity, no per-step job. */
/** Linear AR + Fourier feature-transform forecaster — the elite zoo's
  * `feature_transform=add_fourier_terms(sp, K)` members
  * (elite.py:104-137; seasonality/fourier.py:10-49). The fourier
  * features are pure position functions — coef(t) = ((t mod sp) / sp)
  * over the 0-based per-entity arange — so future horizons are known
  * exactly: horizon h of an n-row entity sits at position n − 1 + h.
  * Fit is one closed-form moment pass over lag + fourier columns;
  * predict unrolls the lag recursion with each horizon's fourier
  * contribution added as per-entity column algebra (no collect).
  * The additive fold is STRICTLY left-to-right (b0, lag terms
  * ascending, then cos/sin pairs k-ascending) — the DuckDB oracle
  * folds the same sequence, so the engines agree to sub-ULP. */
object FourierLinear {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  def fitPredict(p: Panel, timeCol: String, freq: String, lags: Int,
                 sp: Int, K: Int, ridge: Double, fh: Int,
                 l1Ratio: Double = 0.0, cdSweeps: Int = 40): DataFrame = {
    require(K < sp, s"fourier K must be < sp (got K=$K, sp=$sp)")
    val withF = withFourier(CrossValidation.withPosition(
      p.copy(df = Preprocess.lagKeepAll(p, 1 to lags))), K, sp)
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l") ++ fourierNames(K)
    // l1Ratio > 0: the lasso/elastic-net fourier members — same
    // dispatch as LinearForecaster.fit (CD on the identical moments)
    val (b0, w) =
      if (l1Ratio == 0.0)
        graft.functions.Ols.fit(
          withF.filter(col("__rn") > lags), featureCols, p.value, ridge)
      else
        graft.functions.Ols.elasticNetCD(
          withF.filter(col("__rn") > lags), featureCols, p.value,
          alpha = ridge, l1Ratio = l1Ratio, sweeps = cdSweeps)
    // per-entity tail state (newest lags values), train length n, cutoff
    val state = Forecasters.prefixTailState(p, withF, col("__cnt"), lags,
      max(col(timeCol)).as("__cutoff"), max(col("__cnt")).as("__n"))
    val unrolled = Forecasters.unrollRecursive(state, b0, w.take(lags), fh,
      j => element_at(col("__state"), j))(h => fourierTerms(w.drop(lags), K, sp, col("__n"), h))
    Forecasters.horizonRows(unrolled, p, timeCol, fh, freq, Forecasters.unrolledPreds(fh))
  }

  /** The fourier features `__fc_k`/`__fs_k`, k = 1..K, of each row of a
    * positioned frame: cos/sin(2πk · coef), coef = ((__rn − 1) mod sp)/sp
    * over the 0-based position. */
  private[operators] def withFourier(df: DataFrame, K: Int, sp: Int): DataFrame = {
    val coef = ((col("__rn") - 1) % sp).cast("double") / lit(sp.toDouble)
    (1 to K).foldLeft(df) { (d, k) =>
      d.withColumn(s"__fc_$k", cos(lit(2 * math.Pi * k) * coef))
        .withColumn(s"__fs_$k", sin(lit(2 * math.Pi * k) * coef))
    }
  }

  /** [[withFourier]]'s column names in the moment order (cos, sin per k). */
  private[operators] def fourierNames(K: Int): Seq[String] =
    (1 to K).flatMap(k => Seq(s"__fc_$k", s"__fs_$k"))

  /** Horizon h's fourier terms for an entity of train length `n`: the
    * cos/sin pairs k-ascending at position n − 1 + h, weights `fW`
    * through StableConst, the 2πk factors structural literals. */
  private[operators] def fourierTerms(fW: Array[Double], K: Int, sp: Int, n: Column,
                                      h: Int): Seq[Column] = {
    import graft.functions.StableConst.{double => sd}
    val posH = ((n - 1 + h) % sp).cast("double") / lit(sp.toDouble)
    (1 to K).flatMap(k => Seq(
      sd(fW(2 * (k - 1))) * cos(lit(2 * math.Pi * k) * posH),
      sd(fW(2 * k - 1)) * sin(lit(2 * math.Pi * k) * posH)))
  }
}

object ExogLinear {
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  final case class Model(intercept: Double, lagW: Array[Double],
                         exogW: Array[Double], lags: Int, freq: String,
                         exogCols: Seq[String]) {

    /** `xFuture`: one row per (entity, future time) carrying
      * `exogCols`, at least fh rows per entity in time order. */
    def predict(p: Panel, timeCol: String, fh: Int, xFuture: DataFrame): DataFrame = {
      val state0 = Forecasters.tailState(p, timeCol, lags)
      // per-entity exog contribution per horizon: c_h = Σ exogW·x(t+h),
      // one groupBy over the first fh future rows per entity
      val hw = Window.partitionBy(p.entityCols: _*).orderBy(col(timeCol))
      val contribExpr = exogCols.zip(exogW)
        .map { case (c, w) => col(c).cast("double") * graft.functions.StableConst.double(w) }
        .reduceOption(_ + _).getOrElse(lit(0.0))
      val contribs = xFuture
        .withColumn("__h", row_number().over(hw))
        .filter(col("__h") <= fh)
        .withColumn("__c", contribExpr)
        .groupBy(p.entityCols: _*)
        .agg(sort_array(collect_list(struct(col("__h"), col("__c"))))
          .getField("__c").as("__cs"))
      // entities whose xFuture carries fewer than fh rows drop here
      // (the short-entity contract, same as the size(__state) guard
      // above) — element_at past the array end would otherwise emit
      // silent null forecasts for the missing horizons
      val joined = state0.join(contribs, p.entity)
        .filter(size(col("__cs")) >= fh)
      val unrolled = Forecasters.unrollRecursive(joined, intercept, lagW, fh,
        j => element_at(col("__state"), j))(h => Seq(element_at(col("__cs"), h)))
      Forecasters.horizonRows(unrolled, p, timeCol, fh, freq, Forecasters.unrolledPreds(fh))
    }
  }

  /** Fit y ~ lags 1..L + exogCols (already present on the panel frame)
    * — one closed-form moment pass over the reduction. */
  def fit(p: Panel, lags: Int, freq: String, exogCols: Seq[String]): Model = {
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l") ++ exogCols
    val (b0, w) = graft.functions.Ols.fit(Forecasters.makeReduction(p, lags), featureCols, p.value)
    Model(b0, w.take(lags), w.drop(lags), lags, freq, exogCols)
  }
}

/** Linear AR forecaster WITH exogenous future-known calendar
  * regressors — the reference's `fit(y, X)` path (_reduction.py:32
  * joins X onto the lag matrix; the M5 benchmark exercises it with
  * calendar covariates). Exog here = day-of-week one-hot (six
  * dummies, Monday-indexed via pure epoch-day arithmetic so both
  * engines derive the identical integer — engine dayofweek()
  * numberings disagree); [[ExogLinear]] is the general
  * caller-supplied-X form. Future X is known by construction, so the
  * recursive predict unrolls per horizon as column algebra with each
  * horizon's exog contribution added per entity (the per-entity
  * cutoff makes the exog term entity-dependent — it cannot fold into
  * driver-side scalar coefficients like the pure-lag recursion). */
object ExogDowLinear {
  import org.apache.spark.sql.functions._

  // day-of-week convention: (epochSeconds div 86400 + 3) mod 7 →
  // 0=Monday..6=Sunday, pure integer arithmetic (1970-01-01 was a
  // Thursday) — engine dayofweek() numberings disagree, this doesn't

  final case class Model(intercept: Double, lagW: Array[Double],
                         dowW: Array[Double], lags: Int, freq: String) {
    def predict(p: Panel, timeCol: String, fh: Int): DataFrame = {
      require(freq == "1d", "calendar-exog model is daily")
      val state0 = Forecasters.tailState(p, timeCol, lags)
        .withColumn("__cd", expr("CAST(__cutoff AS LONG) div 86400"))
      // one lateral column per horizon: earlier horizons' predictions
      // roll into the state, the horizon's day-of-week picks its dummy
      val unrolled = Forecasters.unrollRecursive(state0, intercept, lagW, fh,
        j => element_at(col("__state"), j)) { h =>
        import graft.functions.StableConst.{double => sd}
        val dw = pmod(col("__cd") + h + 3, lit(7))
        Seq((1 to 6).foldLeft(when(lit(false), 0.0)) { (c, k) =>
          c.when(dw === k, sd(dowW(k - 1)))
        }.otherwise(0.0))
      }
      Forecasters.horizonRows(unrolled, p, timeCol, fh, freq, Forecasters.unrolledPreds(fh))
    }
  }

  /** Fit y ~ lags 1..L + dow dummies over the AR reduction — one
    * closed-form moment pass like every other linear fit. The block
    * pass evaluates each CASE dummy once per row, so no materialized
    * copy of the projection is needed. */
  def fit(p: Panel, lags: Int, freq: String, timeCol: String): Model = {
    val reduction = Forecasters.makeReduction(p, lags)
      .withColumn("__dw", pmod(expr(s"(CAST($timeCol AS LONG) div 86400)") + 3, lit(7)))
    val withDummies = (1 to 6).foldLeft(reduction)((d, k) =>
      d.withColumn(s"__dow_$k", when(col("__dw") === k, 1.0).otherwise(0.0)))
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l") ++
      (1 to 6).map(k => s"__dow_$k")
    val (b0, w) = graft.functions.Ols.fit(withDummies, featureCols, p.value)
    Model(b0, w.take(lags), w.drop(lags), lags, freq)
  }
}

/** Recursive + direct pair; predict = mean of the two (the reference
  * averages predict_recursive and predict_direct, _ar.py:356-371).
  * Both predictions key on the same (entity, future-time) grid and
  * drop the same too-short entities, so the combine is an equi-join
  * on entity-count × fh rows — broadcast-sized, never row-scale. */
final case class EnsembleLinearModel(rec: LinearForecasterModel, dir: DirectLinearModel) {
  import org.apache.spark.sql.functions._

  def predict(p: Panel, timeCol: String, fh: Int): DataFrame = {
    val r = rec.predict(p, timeCol, fh)
    val d = dir.predict(p, timeCol, fh).withColumnRenamed(p.value, "__vd")
    r.join(d, p.entity :+ timeCol)
      .withColumn(p.value, (col(p.value) + col("__vd")) / 2)
      .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)
  }
}
