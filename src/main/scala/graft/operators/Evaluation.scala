package graft.operators

import graft.core.Panel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Residual evaluation statistics (reference: functime/evaluation.py).
  *
  * The normality test is the full D'Agostino-Pearson K² from scipy
  * `normaltest` (evaluation.py:171-182 delegates to scipy) — both the
  * skewness and kurtosis Z-transforms are closed-form algebra over the
  * first four central moments, so the whole test (statistic AND
  * p-value: chi²(2df) survival = exp(−K²/2)) runs as one codegen'd
  * aggregation per entity and a few projections. No SciPy, no UDF.
  */
object Evaluation {

  /** Per-entity D'Agostino-Pearson normality test: (skew, kurtosis,
    * k2_stat, p_value). Formulas follow the published test
    * (D'Agostino 1971; Anscombe & Glynn 1983).
    *
    * Staged as consecutive selects — (n, skew, kurt), then (z1, z2),
    * then k2, then the output — because fused into one projection the
    * K² formula restates the n polynomials, skew and kurtosis many
    * times and the aggregate's output method outgrows the JVM's 64 KB
    * limit (that stage then runs interpreted). `CollapseProject` keeps
    * the stages apart: it does not inline a non-cheap expression that
    * is referenced twice. Same doubles as the fused form. */
  def normalityTest(p: Panel): DataFrame = {
    val d = p.df.withColumn("__mu", avg(p.x).over(p.we))
    val m = d.groupBy(p.entityCols: _*).agg(
      count(p.x).cast("double").as("n"),
      avg(pow(p.x - col("__mu"), 2)).as("m2"),
      avg(pow(p.x - col("__mu"), 3)).as("m3"),
      avg(pow(p.x - col("__mu"), 4)).as("m4"))
    val n = col("n")
    def stage(df: DataFrame, cols: Column*): DataFrame =
      df.select(p.entityCols ++ cols: _*)
    val moments = stage(m, n,
      try_divide(col("m3"), pow(col("m2"), 1.5)).as("skew"),
      try_divide(col("m4"), pow(col("m2"), 2)).as("kurt"))
    val skew = col("skew")
    val kurt = col("kurt")
    // skewtest (D'Agostino 1971)
    val y = skew * sqrt((n + 1) * (n + 3) / (lit(6.0) * (n - 2)))
    val beta2 = lit(3.0) * (n * n + lit(27.0) * n - 70) * (n + 1) * (n + 3) /
      ((n - 2) * (n + 5) * (n + 7) * (n + 9))
    val w2 = sqrt(lit(2.0) * (beta2 - 1)) - 1
    val delta = lit(1.0) / sqrt(lit(0.5) * log(w2))
    val alpha = sqrt(lit(2.0) / (w2 - 1))
    val ya = try_divide(y, alpha)
    val z1 = delta * log(ya + sqrt(ya * ya + 1))
    // kurtosistest (Anscombe & Glynn 1983)
    val e = lit(3.0) * (n - 1) / (n + 1)
    val varb2 = lit(24.0) * n * (n - 2) * (n - 3) / ((n + 1) * (n + 1) * (n + 3) * (n + 5))
    val x = (kurt - e) / sqrt(varb2)
    val sqrtbeta1 = lit(6.0) * (n * n - lit(5.0) * n + 2) / ((n + 7) * (n + 9)) *
      sqrt(lit(6.0) * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    val aa = lit(6.0) + lit(8.0) / sqrtbeta1 *
      (lit(2.0) / sqrtbeta1 + sqrt(lit(1.0) + lit(4.0) / (sqrtbeta1 * sqrtbeta1)))
    val term = (lit(1.0) - lit(2.0) / aa) /
      (lit(1.0) + x * sqrt(lit(2.0) / (aa - 4)))
    val z2 = ((lit(1.0) - lit(2.0) / (lit(9.0) * aa)) -
      signum(term) * pow(abs(term), lit(1.0) / 3)) / sqrt(lit(2.0) / (lit(9.0) * aa))
    // the z1/z2 chains divide by (n-2), (n-3) and sqrt(varb2) — for
    // n < 8 some divisor is exactly 0 and ANSI mode turns one short
    // entity into a job-killing DIVIDE_BY_ZERO (scipy's normaltest
    // refuses n < 8 outright). CASE WHEN short-circuits in codegen, so
    // the guarded branch never evaluates for short entities — they get
    // null stats instead.
    val nOk = n >= 8.0
    val zs = stage(moments, n, skew, kurt, when(nOk, z1).as("z1"), when(nOk, z2).as("z2"))
    val k2 = stage(zs, n, skew, kurt, (col("z1") * col("z1") + col("z2") * col("z2")).as("k2"))
    stage(k2, skew, (kurt - 3).as("kurtosis"),
      when(nOk, col("k2")).as("k2_stat"),
      when(nOk, exp(col("k2") * -0.5)).as("p_value"))
  }

  /** Ljung-Box Q statistic over lags 1..maxLags —
    * evaluation.py:139-168: Q = n(n+2)·Σ_k r_k²/(n−k). */
  def ljungBox(p: Panel, maxLags: Int): DataFrame = {
    val withLags = (1 to maxLags).foldLeft(p.df) { (d, l) =>
      d.withColumn(s"__l$l", lag(p.x, l).over(p.w))
    }
    val aggs = count(p.x).cast("double").as("n") +:
      (1 to maxLags).map(l => corr(p.x, col(s"__l$l")).as(s"__r$l"))
    val base = withLags.groupBy(p.entityCols: _*).agg(aggs.head, aggs.tail: _*)
    val q = (1 to maxLags).map { k =>
      col(s"__r$k") * col(s"__r$k") / (col("n") - k)
    }.reduce(_ + _) * col("n") * (col("n") + 2)
    base.select((p.entityCols :+ q.as("q_stat")): _*)
  }

  /** Rank entities by a per-entity forecast score — evaluation.py
    * `rank_point_forecasts`: score each entity with `metric` over the
    * aligned (actual, pred) frame, return the frame SORTED by score
    * (worst-first when descending). A distributed sort, no global
    * window. */
  def rankPointForecasts(aligned: DataFrame, entity: Seq[String],
                         metric: (DataFrame, Seq[String]) => DataFrame,
                         scoreCol: String, descending: Boolean = true): DataFrame = {
    val scored = metric(aligned, entity)
    scored.orderBy(if (descending) col(scoreCol).desc_nulls_last else col(scoreCol).asc_nulls_last)
  }

  /** Rank entities by residual bias — evaluation.py `rank_residuals`:
    * per-entity |mean residual|, sorted worst-first. */
  def rankResiduals(resids: DataFrame, entity: Seq[String],
                    residCol: String): DataFrame =
    resids.groupBy(entity.map(col): _*)
      .agg(abs(avg(col(residCol))).as("abs_bias"))
      .orderBy(col("abs_bias").desc_nulls_last)

  /** Forecast value added vs a benchmark — evaluation.py `rank_fva`:
    * per-entity uplift = score(benchmark) − score(forecast) under a
    * shared metric; positive = the forecast beats the benchmark. */
  def rankFva(aligned: DataFrame, alignedBench: DataFrame, entity: Seq[String],
              metric: (DataFrame, Seq[String]) => DataFrame,
              scoreCol: String): DataFrame = {
    val m = metric(aligned, entity)
    val mb = metric(alignedBench, entity).withColumnRenamed(scoreCol, "__bench")
    m.join(mb, entity, "left")
      .select(entity.map(col) :+ (col("__bench") - col(scoreCol)).as("uplift")
        :+ (col("__bench") - col(scoreCol) > 0).as("has_uplift"): _*)
      .orderBy(col("uplift").desc_nulls_last)
  }

  /** plot_comet's data layer — plotting.py:288-338: per-entity
    * forecast score (SMAPE by default) joined with the train
    * coefficient of variation var(y)/mean(y), null pairs dropped,
    * plus the global mean-line values the figure draws (hline =
    * mean score over ALL scored entities, vline = mean CV over ALL
    * entities — both computed before the join, as the reference
    * does). The plotly scatter itself is presentation, not engine
    * scope. One groupBy shuffle per input + a broadcast of the two
    * 1-row means. */
  def cometData(aligned: DataFrame, yTrain: Panel,
                metric: (DataFrame, Seq[String]) => DataFrame = Metrics.smape,
                scoreCol: String = "smape"): DataFrame = {
    val scores = metric(aligned, yTrain.entity)
    val cvs = yTrain.df.groupBy(yTrain.entityCols: _*)
      .agg(try_divide(var_samp(yTrain.x), avg(yTrain.x)).as("cv"))  // zero-mean entity: null CV (na.drop'd), not an ANSI DIVIDE_BY_ZERO job kill
    val meanScore = scores.agg(avg(col(scoreCol)).as("mean_score"))
    val meanCv = cvs.agg(avg(col("cv")).as("mean_cv"))
    scores.join(cvs, yTrain.entity, "left")
      .na.drop(Seq(scoreCol, "cv"))
      .crossJoin(broadcast(meanScore))
      .crossJoin(broadcast(meanCv))
  }

  /** plot_entities' data layer — plotting.py:17-63: observed-value
    * count per entity (the bar lengths). */
  def entityCounts(p: Panel): DataFrame =
    p.df.groupBy(p.entityCols: _*).agg(count(lit(1)).as("len"))

  /** Deterministic entity choice for the plot data layers —
    * _plotting.py:330-365's no-seed path: unique entities sorted
    * ascending, first `numSeries`. Entity-count bounded (distinct +
    * global sort of one row per entity, never row-scale). */
  private def chosenEntities(p: Panel, numSeries: Int): DataFrame =
    p.df.select(p.entityCols: _*).distinct()
      .orderBy(p.entityCols: _*).limit(numSeries)

  /** Last `numPoints` rows per partition key. `orderCols` must reach a
    * deterministic order over every column the caller projects —
    * callers append their value column as the final tiebreak so
    * duplicate timestamps within an entity still trim to a
    * deterministic multiset (ties beyond that point are identical rows
    * in the projection, so the arbitrary pick cannot change output). */
  private def tailRows(df: DataFrame, entity: Seq[String],
                       orderCols: Seq[Column], numPoints: Int): DataFrame =
    df.withColumn("__rnd", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(entity.map(col): _*).orderBy(orderCols.map(_.desc): _*)))
      .filter(col("__rnd") <= numPoints).drop("__rnd")

  /** plot_forecasts' data layer — plotting.py:124-195: for the first
    * `numSeries` entities (sorted — the deterministic no-seed path),
    * each entity's last `numPoints` actual rows tagged `Actual` and
    * last `numPoints` forecast rows tagged `Forecast`, on a shared
    * (entity, time, value, series) schema. The plotly subplot grid is
    * presentation; this union IS the figure's data. Chosen entities
    * broadcast into both sides — one window per input, no extra
    * shuffle. */
  def forecastData(yTrue: Panel, yPred: Panel, timeCol: String,
                   numSeries: Int, numPoints: Int): DataFrame = {
    val chosen = broadcast(chosenEntities(yTrue, numSeries))
    def side(p: Panel, tag: String) =
      tailRows(p.df.join(chosen, p.entity), p.entity, p.orderCols :+ p.x, numPoints)
        .select((p.entityCols :+ col(timeCol) :+
          p.x.as(yTrue.value) :+ lit(tag).as("series")): _*)
    side(yTrue, "Actual").unionByName(side(yPred, "Forecast"))
  }

  /** plot_panel's data layer — plotting.py:65-123: the first
    * `numSeries` entities (sorted — the deterministic no-seed path,
    * _plotting.py:330-362), each entity's last `numPoints` observed
    * rows, tagged with the entity's 1-based subplot grid position
    * (row = i/numCols + 1, col = i%numCols + 1 for the i-th chosen
    * entity — _plotting.py:399-430). The index row_number runs over
    * the entity-count-bounded chosen frame only, which then broadcasts
    * into the row-scale join — no global window over data rows. */
  def panelData(y: Panel, timeCol: String, numSeries: Int,
                numPoints: Int, numCols: Int = 2): DataFrame = {
    val pos = chosenEntities(y, numSeries)
      .withColumn("__i", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(y.entityCols: _*)) - 1)
      .withColumn("grid_row", (col("__i") / numCols).cast("int") + 1)
      .withColumn("grid_col", pmod(col("__i"), lit(numCols)).cast("int") + 1)
      .drop("__i")
    tailRows(y.df.join(broadcast(pos), y.entity), y.entity, y.orderCols :+ y.x, numPoints)
      .select((y.entityCols :+ col(timeCol) :+ y.x.as(y.value) :+
        col("grid_row") :+ col("grid_col")): _*)
  }

  /** plot_backtests' data layer — plotting.py:197-241: actuals (split
    * −1) unioned with every backtest split's predictions, trimmed per
    * (entity, split) to the last `numPoints` (the reference trims per
    * entity over frame order — split-wise is the deterministic
    * equivalent). `btPreds` is a backtest frame carrying
    * (entity, timeCol, split, pred). */
  def backtestData(yTrue: Panel, btPreds: DataFrame, timeCol: String,
                   numSeries: Int, numPoints: Int): DataFrame = {
    val chosen = broadcast(chosenEntities(yTrue, numSeries))
    val actual =
      tailRows(yTrue.df.join(chosen, yTrue.entity), yTrue.entity,
        yTrue.orderCols :+ yTrue.x, numPoints)
        .select((yTrue.entityCols :+ col(timeCol) :+ lit(-1).as("split") :+
          yTrue.x.as(yTrue.value) :+ lit("Actual").as("series")): _*)
    val preds =
      tailRows(btPreds.join(chosen, yTrue.entity),
        yTrue.entity :+ "split", Seq(col(timeCol), col("pred")), numPoints)
        .select((yTrue.entityCols :+ col(timeCol) :+ col("split") :+
          col("pred").as(yTrue.value) :+ lit("Forecast").as("series")): _*)
    actual.unionByName(preds)
  }

  /** plot_residuals' data layer — plotting.py:243-285: the histogram's
    * binned counts per entity over a shared global grid of `nBins`
    * equal bins between the residuals' exact min/max (px.histogram's
    * shared-axis binning made deterministic). Emits (entity, bin,
    * bin_lo, n). One agg for the bounds (broadcast) + one groupBy. */
  def residualsData(resids: DataFrame, entity: Seq[String],
                    residCol: String, nBins: Int): DataFrame = {
    // null residuals (e.g. a left-joined missing prediction) must not
    // bin at all: floor(null/w) is null and least() SKIPS nulls, so
    // they would silently count into the top bin
    val nn = resids.filter(col(residCol).isNotNull)
    val mm = nn.agg(min(col(residCol)).as("__mn"), max(col(residCol)).as("__mx"))
    val w = (col("__mx") - col("__mn")) / lit(nBins).cast("double")
    nn.crossJoin(broadcast(mm))
      .withColumn("bin",
        when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(least(floor((col(residCol) - col("__mn")) / w),
            lit(nBins - 1).cast("long"))).cast("long"))
      .groupBy((entity.map(col) :+ col("bin")): _*)
      .agg(min(col("__mn") + col("bin").cast("double") * w).as("bin_lo"),
        count(lit(1)).as("n"))
  }

  /** plot_fva's data layer — plotting.py:340-398: per-entity benchmark
    * score joined (left) with the forecast score under a shared
    * metric — each output row is one scatter dot (the 45° line and
    * axis ranges are presentation). */
  def fvaData(aligned: DataFrame, alignedBench: DataFrame, entity: Seq[String],
              metric: (DataFrame, Seq[String]) => DataFrame,
              scoreCol: String): DataFrame = {
    val m = metric(aligned, entity).withColumnRenamed(scoreCol, "forecast_score")
    val mb = metric(alignedBench, entity).withColumnRenamed(scoreCol, "benchmark_score")
    m.join(mb, entity, "left")
      .select((entity.map(col) :+ col("benchmark_score") :+ col("forecast_score")): _*)
  }

  /** Per-entity ACF for lags 1..maxLags with Bartlett ±1.96·√((1+2Σr²)/n)
    * confidence bounds — evaluation.py:62-78. */
  def acf(p: Panel, maxLags: Int): DataFrame = {
    val withLags = (1 to maxLags).foldLeft(p.df) { (d, l) =>
      d.withColumn(s"__l$l", lag(p.x, l).over(p.w))
    }
    val aggs = count(p.x).cast("double").as("n") +:
      (1 to maxLags).map(l => corr(p.x, col(s"__l$l")).as(s"acf_$l"))
    val base = withLags.groupBy(p.entityCols: _*).agg(aggs.head, aggs.tail: _*)
    // Bartlett: CI for lag k uses the reference's cum_sum convention
    // (acf_confint_formula, evaluation.py:74-78) — Σ_{i≤k} r_i²
    // INCLUDING lag k's own term (statsmodels would use i<k)
    val withCis = (1 to maxLags).foldLeft(base) { (d, k) =>
      val priorSq = (1 to k).map(i => col(s"acf_$i") * col(s"acf_$i"))
        .foldLeft(lit(0.0): Column)(_ + _)
      d.withColumn(s"ci_$k", lit(1.96) * sqrt((lit(1.0) + priorSq * 2) / col("n")))
    }
    withCis.drop("n")
  }
}