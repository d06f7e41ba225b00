package graft.operators

import graft.core.Panel
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Tree-boosted and censored AR forecasters.
  *
  * Reference: functime/forecasting/lightgbm.py / xgboost.py /
  * catboost.py (all gradient-boosted trees over the AR-reduction
  * matrix — MLlib `GBTRegressor` is the Spark-native equivalent) and
  * forecasting/censored.py:32-96 (classifier × two-part regression).
  *
  * Scale design: fit runs on the distributed reduction matrix (the
  * shuffle is the lag window on entity). The recursive multi-step
  * predict broadcasts the fitted tree ensemble (small — a few hundred
  * KB) and runs all fh steps per entity inside one `mapPartitions`
  * pass over the per-entity lag tails: one job, no driver loop, no
  * per-step shuffle (SURVEY.md §7.5(1) plan A applied to trees).
  */
object GbtForecaster {

  final case class Model(model: GBTRegressionModel, lags: Int, freq: String) {
    def predict(p: Panel, timeCol: String, fh: Int): DataFrame =
      predictRecursiveModel(p, timeCol, fh, freq, lags,
        feats => model.predict(Vectors.dense(feats)))
  }

  /** `weightCol`: optional per-row sample weight on the panel frame —
    * the reference's `weight_transform`/`sample_weight` hook
    * (_regressors.py:19-58, base/model.py:48); MLlib threads it
    * natively into every split-gain computation. */
  def fit(p: Panel, lags: Int, freq: String, maxIter: Int = 20,
          maxDepth: Int = 5, seed: Long = 42L,
          weightCol: Option[String] = None): Model = {
    val reduction = Forecasters.makeReduction(p, lags)
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l").toArray
    val assembled = new VectorAssembler()
      .setInputCols(featureCols).setOutputCol("__features")
      .transform(reduction.na.drop(featureCols :+ p.value))
      .cache()
    // GBT runs maxIter × depth findBestSplits passes over this matrix
    // — cache it so every iteration reads memory, not the lag-window
    // recompute — in the fits' coalesce rule's partition count (~100
    // sequential treeAggregate jobs over tiny partitions are pure
    // scheduling overhead)
    val n = assembled.count()
    val parts = graft.functions.FitBlocks.coalesceParts(assembled.rdd.getNumPartitions, n)
    val fitInput =
      if (parts < assembled.rdd.getNumPartitions) assembled.coalesce(parts) else assembled
    val base = new GBTRegressor()
      .setFeaturesCol("__features").setLabelCol(p.value)
      .setMaxIter(maxIter).setMaxDepth(maxDepth).setSeed(seed)
    val m = weightCol.fold(base)(base.setWeightCol).fit(fitInput)
    assembled.unpersist(blocking = false)
    Model(m, lags, freq)
  }

  /** Recursive predict for any broadcastable scalar model: per entity,
    * the lag-tail array is rolled forward fh steps executor-side. */
  private[operators] def predictRecursiveModel(
      p: Panel, timeCol: String, fh: Int, freq: String, lags: Int,
      step: Array[Double] => Double): DataFrame = {
    val spark = p.df.sparkSession
    // a state CONTAINING a null is incomplete here: getSeq[Double]
    // would unbox it to a fabricated 0.0 lag and forecast from it
    // silently (short entities already dropped by tailState)
    val state0 = Forecasters.tailState(p, timeCol, lags,
      complete = !exists(col("__state"), v => v.isNull))
    val slim = state0.select((p.entityCols :+ col("__cutoff") :+ col("__state")): _*)
    val outSchema = StructType(slim.schema.dropRight(1)
      :+ StructField("__preds", ArrayType(DoubleType)))
    val stateIdx = slim.schema.length - 1
    val predRows = slim.rdd.map { row =>
      // state(0) = lag 1 (newest); roll forward fh steps
      var state = row.getSeq[Double](stateIdx).toArray
      val preds = new Array[Double](fh)
      var h = 0
      while (h < fh) {
        val yhat = step(state)
        preds(h) = yhat
        state = (yhat +: state.take(lags - 1)).toArray
        h += 1
      }
      Row.fromSeq(row.toSeq.dropRight(1) :+ preds.toSeq)
    }
    Forecasters.horizonRows(spark.createDataFrame(predRows, outSchema),
      p, timeCol, fh, freq, col("__preds"))
  }
}

/** Zero-inflated / censored forecaster — forecasting/censored.py:
  * P(y > threshold) from a classifier × regression fit above the
  * threshold; prediction = p · ŷ_above (zero_inflated_model when
  * threshold = 0, censored.py:96).
  *
  * Both parts fit over one persisted [[graft.functions.FitBlocks]] set:
  * one job materializes it and folds the regression's moments, then the
  * six IRLS passes run on the driver under
  * [[graft.functions.FitBlocks.driverCap]]; a pass is one job only past
  * the cap. */
object CensoredForecaster {

  final case class Model(pIntercept: Double, pWeights: Array[Double],
                         rIntercept: Double, rWeights: Array[Double],
                         lags: Int, freq: String) {
    /** Recursive predict rolling the expected value p·ŷ forward. */
    def predict(p: Panel, timeCol: String, fh: Int): DataFrame =
      GbtForecaster.predictRecursiveModel(p, timeCol, fh, freq, lags, { feats =>
        val z = pIntercept + pWeights.zip(feats).map { case (w, x) => w * x }.sum
        val prob = 1.0 / (1.0 + math.exp(-z))
        val yhat = rIntercept + rWeights.zip(feats).map { case (w, x) => w * x }.sum
        prob * yhat
      })
  }

  def fit(p: Panel, lags: Int, freq: String, threshold: Double = 0.0): Model = {
    import graft.functions.{FitBlocks, Logistic, Ols}
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
    // both parts are moment fits over one block set of the complete
    // reduction rows, columns (lags, __above, value): the classifier is
    // IRLS Newton (one weighted-moment pass per iteration — deterministic
    // fixed iterations, so the DuckDB oracle replicates it), the
    // above-threshold regression is closed-form OLS whose moments ride
    // in the classifier's row-count pass
    val blocks = FitBlocks.persist(
      Forecasters.makeReduction(p, lags)
        .withColumn("__above", (col(p.value) > threshold).cast("double")),
      featureCols :+ "__above" :+ p.value)
    try {
      val d = lags + 1
      // one job materializes the blocks, counts their rows and folds the
      // moments of the rows with value > threshold (Spark's `>`)
      val first = blocks.sum(Ols.momentWidth(d), 1) { (b, s, c) =>
        c(0) += b.n
        val x = new Array[Double](d)
        x(0) = 1.0
        val y = b.cols(lags + 1)
        var r = 0
        while (r < b.n) {
          if (FitBlocks.gt(y(r), threshold)) {
            var j = 0
            while (j < lags) { x(j + 1) = b.cols(j)(r); j += 1 }
            Ols.addMoments(s, 0, x, y(r), 1.0)
          }
          r += 1
        }
      }
      if (first.counts(0) == 0) throw Logistic.noRows(featureCols, "__above")
      val (rIntercept, rWeights) = Ols.solveMoments(first.sums, 0, d, 0.0)(
        Ols.noRows("OLS fit", featureCols, p.value))
      val (pIntercept, pWeights) =
        Logistic.fitBlocks(blocks, lags, first.counts(0), lambda = 0.0, iters = 6)
      Model(pIntercept, pWeights, rIntercept, rWeights, lags, freq)
    } finally blocks.unpersist()
  }
}
