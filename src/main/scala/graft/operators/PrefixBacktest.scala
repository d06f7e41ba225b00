package graft.operators

import graft.core.Panel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Prefix-shared expanding-window backtests for the AFFINE-transform
  * linear-family elite members (reference: the per-split refits of
  * elite.py:80-164's scaled/detrended/demeaned and L1 families).
  *
  * The scale-correct shape (SCALE.md r9): because every train slice is
  * a row PREFIX per entity, the slice's lag matrix is exactly the
  * shared positioned lag frame filtered to `__rn ≤ cnt − cutoff` — so
  * no member ever re-shuffles the panel into lags per split. The
  * per-slice pieces that genuinely differ per split are only the
  * per-entity TRANSFORM ARTIFACTS (μ/σ, μ, or the detrend α/β), which
  * are one bounded-key aggregation each, and the closed-form/CD fit
  * moments. The full 32-member zoo at 1M entities previously died on
  * disk from nSplits × members lag re-shuffles (>160 GB of spill);
  * with this sharing the members' backtests add ZERO full-width
  * shuffles beyond the one shared lag frame.
  *
  * The transforms supported here are the per-entity affine ones — the
  * transform then commutes with lagging: the transformed lag_k value
  * at position rn equals (lag_k − off(rn−1−k))/s, the IDENTICAL
  * arithmetic the materialize-then-lag pipeline computes, so fits and
  * predictions match the [[ForecastPipeline]] path (sub-ULP moment
  * sum-order drift absorbed by the rd6 oracle round, like every
  * moment-based member). Differencing does not keep the label affine
  * in the same per-entity artifacts (its invert is a cumulative sum),
  * so diff members stay on the generic [[Conformal.backtest]] path.
  */
object PrefixBacktest {

  /** Per-entity affine slice transform: y' = (y − off(i)) / s with i
    * the 0-based train position. Artifacts recomputed per slice. */
  sealed trait SliceTransform
  /** Identity — the plain CD/elastic-net members. */
  case object NoTransform extends SliceTransform
  /** z-score (Preprocess.scale): off = μ, s = σ (stddev_samp);
    * σ = 0 → null via try_divide, matching the pipeline step. */
  case object ScaleT extends SliceTransform
  /** mean-detrend (ForecastPipeline.detrendMeanStep): off = μ, s = 1. */
  case object DemeanT extends SliceTransform
  /** linear-detrend (ForecastPipeline.detrendLinearStep): off =
    * α + β·i from the step's exact DECIMAL moment sums (bit-identical
    * artifacts across partition orders), s = 1; zero-x-variance
    * entities dropped via the β IS NULL inner-join, like the step. */
  case object DetrendT extends SliceTransform

  /** Per-entity slice transform artifacts over the prefix rows
    * (`__rn ≤ trainEnd`) — one bounded-key aggregation whose exact
    * arithmetic mirrors the pipeline steps. None for NoTransform. */
  private def sliceArtifacts(p: Panel, sharedLag: DataFrame,
                             transform: SliceTransform,
                             trainEnd: Column): Option[DataFrame] =
    transform match {
      case NoTransform => None
      case ScaleT => Some(sharedLag.filter(col("__rn") <= trainEnd)
        .groupBy(p.entityCols: _*)
        .agg(avg(p.x).as("__sc_m"), stddev_samp(p.x).as("__sc_sd")))
      case DemeanT => Some(sharedLag.filter(col("__rn") <= trainEnd)
        .groupBy(p.entityCols: _*).agg(avg(p.x).as("__mu")))
      case DetrendT =>
        // detrendLinearStep's decimal moments with __i = __rn − 1
        // (slice row_number == __rn on a prefix)
        val d0 = sharedLag.filter(col("__rn") <= trainEnd)
          .withColumn("__i", (col("__rn") - lit(1)).cast("double"))
          .withColumn("__vd", p.x.cast("decimal(28,10)"))
        val m = d0.groupBy(p.entityCols: _*).agg(
          count(lit(1)).cast("double").as("__nn"),
          sum(col("__vd")).cast("double").as("__sy"),
          sum(col("__vd") * col("__i").cast("decimal(18,1)")).cast("double").as("__sxy"),
          sum(col("__i")).as("__sx"),
          sum(col("__i") * col("__i")).as("__sxx"))
        val denomE = col("__nn") * col("__sxx") - col("__sx") * col("__sx")
        val betaE = when(denomE =!= 0d,
          (col("__nn") * col("__sxy") - col("__sx") * col("__sy")) / denomE)
        Some(m.select((p.entityCols :+ betaE.as("__beta") :+
          (col("__sy") / col("__nn") - betaE * (col("__sx") / col("__nn"))).as("__alpha") :+
          col("__nn").as("__n")): _*)
          .filter(col("__beta").isNotNull))
    }

  /** Transformed value expression at 0-based position `idx` (the
    * artifact columns must be in scope). */
  private def txExpr(transform: SliceTransform)(c: Column, idx: Column): Column =
    transform match {
      case NoTransform => c
      case ScaleT => try_divide(c - col("__sc_m"), col("__sc_sd"))
      case DemeanT => c - col("__mu")
      case DetrendT => c - (col("__beta") * idx + col("__alpha"))
    }

  /** Per-horizon inverse transform (pipeline predict's arithmetic). */
  private def invExpr(transform: SliceTransform)(c: Column, h: Int): Column =
    transform match {
      case NoTransform => c
      case ScaleT => c * col("__sc_sd") + col("__sc_m")
      case DemeanT => c + col("__mu")
      case DetrendT => c + (col("__beta") * (col("__n") - lit(1) + lit(h)) + col("__alpha"))
    }

  /** Expanding-window backtest over the caller's shared positioned lag
    * frame (columns: entity…, timeCol, value, value__lag_1..≥lags,
    * __rn, __cnt — `CrossValidation.withPosition` over
    * `Preprocess.lagKeepAll`). `fit(df, featureCols, labelCol)` is any
    * closed-form/CD linear fit returning (intercept, weights); it sees
    * the TRANSFORMED slice. Each horizon is the closed-form affine
    * map of [[Forecasters.affineHorizons]] in TRANSFORMED space,
    * inverted per horizon. Returns the [[Conformal.backtest]] schema. */
  def backtest(p: Panel, timeCol: String, lags: Int,
               testSize: Int, nSplits: Int, stepSize: Int,
               sharedLag: DataFrame,
               transform: SliceTransform,
               fit: (DataFrame, Seq[String], String) => (Double, Array[Double]))
      : DataFrame =
    splits(p, timeCol, lags, testSize, nSplits, stepSize, sharedLag, transform, fit)(
      identity, Nil, (state, _) => state) { (state, b0, w, txElem) =>
      (state, Forecasters.affineHorizons(b0, w, testSize)
        .map { case (ah, bh) => Forecasters.affineExpr(ah, bh, txElem) })
    }

  /** Prefix-shared expanding-window backtest for the AR + FOURIER
    * member families (elite.py:104-164's *_fourier /
    * *_scaled_fourier / *_detrend_linear_fourier) — the last
    * per-split lag-rebuild family in the zoo after round 11.
    *
    * Why prefix-sharing extends to fourier: the fourier features are
    * pure functions of the per-entity 0-based position — coef(rn) =
    * ((rn−1) mod sp)/sp — and on a PREFIX slice the slice's positions
    * EQUAL the shared frame's `__rn`, so the slice's design matrix is
    * the shared lag frame filtered to `__rn ≤ cnt − cutoff` with the
    * fourier columns added as position expressions. No member ever
    * re-shuffles the panel into lags per split (the generic
    * [[Conformal.backtest]] path ran a full
    * [[FourierLinear.fitPredict]] — lagKeepAll Window + positioned
    * checkpoint — per member × split).
    *
    * Arithmetic contract: the train features, the fit moments and the
    * predict unroll ([[Forecasters.unrollRecursive]] with
    * [[FourierLinear.fourierTerms]]) are [[FourierLinear.fitPredict]]'s
    * EXACT expressions and fold order (b0, lag terms ascending, cos/sin
    * pairs k-ascending; posH = ((n−1+h) mod sp)/sp with n the slice
    * length = cnt − cutoff), with the affine transforms applied
    * inline to label/lag/state values exactly as [[backtest]] does —
    * so results match the materialize-then-fit pipeline path to the
    * moment sums' sub-ULP partition-order drift, which the rd6 oracle
    * round absorbs like every moment-based member. */
  def backtestFourier(p: Panel, timeCol: String, lags: Int, sp: Int, k: Int,
                      testSize: Int, nSplits: Int, stepSize: Int,
                      sharedLag: DataFrame,
                      transform: SliceTransform,
                      fit: (DataFrame, Seq[String], String) => (Double, Array[Double]))
      : DataFrame = {
    require(k < sp, s"fourier K must be < sp (got K=$k, sp=$sp)")
    // train slice + fourier position columns (slice __rn == shared
    // __rn on a prefix); the fourier features are position functions,
    // NOT transformed — on the pipeline path they're computed from the
    // transformed panel's positions, which equal the raw positions
    val withF = (slice: DataFrame) => FourierLinear.withFourier(slice, k, sp)
    // the slice length n = cnt − cutoff places each horizon's terms
    val withN = (state: DataFrame, cutoff: Int) =>
      state.withColumn("__nF", (col("__cnt") - lit(cutoff)).cast("long"))
    splits(p, timeCol, lags, testSize, nSplits, stepSize, sharedLag, transform, fit)(
      withF, FourierLinear.fourierNames(k), withN) { (state, b0, w, txElem) =>
      val unrolled = Forecasters.unrollRecursive(state, b0, w.take(lags), testSize, txElem)(
        h => FourierLinear.fourierTerms(w.drop(lags), k, sp, col("__nF"), h))
      (unrolled, (1 to testSize).map(h => col(s"__p$h")))
    }
  }

  /** The per-split scaffold both backtests share. Per split (run as
    * concurrent Spark jobs): the slice's transform artifacts, the
    * transformed train slice (`features` adds the caller's extra
    * feature columns `extraFeats` to the raw slice first) and its fit,
    * the raw tail state at the cutoff (carrying `__cnt`, then the
    * caller's `stateCols(state, cutoff)`, then the artifacts joined),
    * `predict(state, b0, weights, txElem)` → (frame,
    * per-horizon transformed-space predictions over it), the inverse
    * transform per horizon, and the actual rows joined on
    * (entity, horizon). */
  private def splits(p: Panel, timeCol: String, lags: Int,
                     testSize: Int, nSplits: Int, stepSize: Int,
                     sharedLag: DataFrame, transform: SliceTransform,
                     fit: (DataFrame, Seq[String], String) => (Double, Array[Double]))
                    (features: DataFrame => DataFrame, extraFeats: Seq[String],
                     stateCols: (DataFrame, Int) => DataFrame)
                    (predict: (DataFrame, Double, Array[Double], Int => Column)
                      => (DataFrame, Seq[Column])): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val featureCols = (1 to lags).map(l => s"${p.value}__lag_$l")
    val splitFutures = (0 until nSplits).map { i => Future {
      val cutoff = testSize + (nSplits - 1 - i) * stepSize
      val trainEnd = col("__cnt") - cutoff
      // per-entity artifacts over the slice rows (a bounded-key agg;
      // transforms' exact arithmetic mirrors the pipeline steps)
      val art = sliceArtifacts(p, sharedLag, transform, trainEnd)
      def tx(c: Column, idx: Column): Column = txExpr(transform)(c, idx)
      // fit over the slice's transformed reduction — same rows the
      // per-slice pipeline trained on (warmup rows excluded, residual
      // nulls na.dropped inside the fit)
      val slice0 = features(sharedLag.filter(col("__rn") <= trainEnd && col("__rn") > lags))
      // the artifact frame is O(entities) × a few doubles — BROADCAST
      // it explicitly: at 1M entities (~40 MB) it exceeds the 10 MB
      // auto-broadcast threshold and the planner falls back to a
      // sort-merge join whose SORT of the full-width lag frame spills
      // per (member × split) — measured 85+ GB of concurrent sort
      // spill killing the r11 1M-entity full-zoo soak on disk. The
      // broadcast probe streams the cached lag frame with no exchange
      // and no sort. (Past the driver's broadcast cap — O(1e8)
      // entities — the scale shape is per-entity raw moments combined
      // driver-side, not a row join; documented in SCALE.md.)
      val (trainSlice, featsT, labelT) = transform match {
        case NoTransform => (slice0, featureCols, p.value)
        case _ =>
          val j0 = slice0.join(broadcast(art.get), p.entity)
            .withColumn("__ty", tx(p.x, (col("__rn") - lit(1)).cast("double")))
          val jd = (1 to lags).foldLeft(j0)((d, k) => d.withColumn(s"__tf_$k",
            tx(col(featureCols(k - 1)), (col("__rn") - lit(1) - lit(k)).cast("double"))))
          (jd, (1 to lags).map(k => s"__tf_$k"), "__ty")
      }
      val (b0, w) = fit(trainSlice, featsT ++ extraFeats, labelT)
      // per-entity RAW tail state at the cutoff (transform applied
      // inline — per-entity affine, so element j of the sorted state
      // sits at 0-based position cnt − cutoff − j)
      val state0 = stateCols(Forecasters.prefixTailState(p, sharedLag, trainEnd, lags,
        max(col("__cnt")).as("__cnt")), cutoff)
      val state = art.map(a => state0.join(broadcast(a), p.entity))
        .getOrElse(state0)
      def txElem(j: Int): Column =
        tx(element_at(col("__state"), j),
          (col("__cnt") - lit(cutoff) - lit(j)).cast("double"))
      val (predFrame, preds) = predict(state, b0, w, txElem)
      val predCols = preds.zipWithIndex.map { case (c, h0) => invExpr(transform)(c, h0 + 1) }
      val pred = predFrame.withColumn("__h", explode(sequence(lit(1), lit(testSize))))
        .withColumn("__pred", element_at(array(predCols: _*), col("__h").cast("int")))
        .select((p.entityCols :+ col("__h") :+ col("__pred")): _*)
      val actual = sharedLag
        .filter(col("__rn") > trainEnd && col("__rn") <= trainEnd + testSize)
        .withColumn("__h", (col("__rn") - trainEnd).cast("int"))
        .select((p.entityCols ++ Seq(col("__h"), col(timeCol), p.x.as("__actual"))): _*)
      actual.join(pred, p.entity :+ "__h", "inner").withColumn("split", lit(i))
    } }
    Await.result(Future.sequence(splitFutures), Duration.Inf)
      .reduce(_ unionByName _)
      .select((p.entityCols ++ Seq(col(timeCol), col("split"),
        col("__actual").as("actual"), col("__pred").as("pred"))): _*)
  }
}
