package graft.operators

import graft.core.Panel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Forecasters (reference: functime/forecasting/).
  *
  * The reference's fit/predict splits into: build per-entity state
  * (cutoffs, last values / lag tails) → produce fh future rows per
  * entity. Everything here is DataFrame-only; the ML-backed linear
  * forecaster lives in [[LinearForecaster]].
  */
object Forecasters {

  /** Naive: last value per entity repeated fh steps —
    * forecasting/naive.py:9. `freq` semantics as in
    * [[Seasonality.futureRanges]]. */
  def naive(p: Panel, timeCol: String, fh: Int, freq: String): DataFrame = {
    val state = p.df.groupBy(p.entityCols: _*).agg(
      max_by(p.x, struct(p.orderCols: _*)).as("__last"),
      max(col(timeCol)).as("__cutoff"))
    explodeHorizon(state, p, timeCol, fh, freq)
      .withColumn(p.value, col("__last"))
      .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)
  }

  /** Seasonal naive: cycle the last sp values —
    * forecasting/snaive.py:9: ŷ(cutoff+h) = y(cutoff − sp + ((h−1) mod sp)). */
  def snaive(p: Panel, timeCol: String, fh: Int, sp: Int, freq: String): DataFrame = {
    val tail = p.df
      .withColumn("__rn_desc", row_number().over(
        Window.partitionBy(p.entityCols: _*).orderBy(p.orderCols.map(_.desc): _*)))
      .filter(col("__rn_desc") <= sp)
    val state = tail.groupBy(p.entityCols: _*).agg(
      // collect_list order is nondeterministic — sort by rn_desc DESC
      // so the array runs oldest→newest among the last sp values
      sort_array(collect_list(struct(col("__rn_desc"), p.x)), asc = false).as("__tailS"),
      max(col(timeCol)).as("__cutoff"))
      .withColumn("__tail", col("__tailS").getField(p.value))
      .drop("__tailS")
      // entities with fewer than sp observations have no full seasonal
      // cycle: cycling mod size(__tail) would forecast a fabricated
      // shorter period — drop them like every sibling forecaster's
      // incomplete-state filter (the reference's y(cutoff − sp + ...)
      // index does not exist for them either)
      .filter(size(col("__tail")) === sp)
    explodeHorizon(state, p, timeCol, fh, freq)
      .withColumn(p.value,
        element_at(col("__tail"), ((col("__h") - 1) % sp).cast("int") + 1))
      .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)
  }

  /** Shared scaffold: one row per (entity, horizon step) with the
    * future timestamp materialized from the cutoff. */
  private def explodeHorizon(state: DataFrame, p: Panel, timeCol: String,
                             fh: Int, freq: String): DataFrame = {
    val stepped = state.withColumn("__h", explode(sequence(lit(1), lit(fh))))
    stepped.withColumn(timeCol, futureTime(freq))
  }

  /** Future timestamp = cutoff advanced h steps; timestampadd keeps
    * time-of-day (the reference's datetime_ranges, ranges.py:21-46).
    * Calendar months/quarters/years are not fixed-width — month
    * arithmetic, never interval seconds (SURVEY.md §7.5(5)). */
  private val FreqPattern = """^(\d+)(mo|s|m|h|d|w|q|y|i)$""".r

  private[operators] def futureTime(freq: String): Column =
    freq.toLowerCase match {
      case FreqPattern(n, "i") => col("__cutoff") + col("__h") * n.toInt
      case FreqPattern(n, alias) =>
        val unit = alias match {
          case "s" => "SECOND"; case "m" => "MINUTE"; case "h" => "HOUR"
          case "d" => "DAY"; case "w" => "WEEK"; case "mo" => "MONTH"
          case "q" => "QUARTER"; case "y" => "YEAR"
        }
        expr(s"timestampadd($unit, __h * ${n.toInt}, __cutoff)")
      case other => throw new IllegalArgumentException(s"unknown freq $other")
    }

  /** AR reduction matrix — forecasting/_reduction.py:21: lag-transform
    * y (lags 1..L) joined back onto y → flat supervised frame with
    * label = current value, features = the L lags. */
  def makeReduction(p: Panel, lags: Int): DataFrame =
    Preprocess.lag(p, 1 to lags)

  /** End-of-panel tail state: one row per entity with at least `lags`
    * rows, carrying the entity columns, `__cutoff` (the entity's max
    * `timeCol`) and `__state`, its newest `lags` values newest-first
    * (`__state(0)` = lag 1). An entity with fewer than `lags` rows is
    * dropped (the reference's check_backtest_lengths): a short state
    * would make `element_at` throw under ANSI. Elements may be null or
    * NaN; a caller that cannot take a null element (an executor-side
    * roll or a driver-side collect) passes its own condition on
    * `__state` as `complete`, tested in the same filter (as a second
    * filter Catalyst folds the `__state` projection into the aggregate,
    * a different plan). */
  private[operators] def tailState(p: Panel, timeCol: String, lags: Int,
                                   complete: Column = lit(true)): DataFrame =
    p.df
      .withColumn("__rn_desc", row_number().over(
        Window.partitionBy(p.entityCols: _*).orderBy(p.orderCols.map(_.desc): _*)))
      .filter(col("__rn_desc") <= lags)
      .groupBy(p.entityCols: _*).agg(
        collect_list(struct(col("__rn_desc"), p.x)).as("__s"),
        max(col(timeCol)).as("__cutoff"))
      .withColumn("__state", sort_array(col("__s")).getField(p.value))
      .filter(size(col("__state")) >= lags && complete)
      .drop("__s")

  /** Tail state at a per-entity position over a positioned frame (one
    * carrying `__rn`): per entity the values at rows
    * `end − lags < __rn ≤ end` as `__state`, newest-first, plus the
    * caller's `aggs` over the same rows; entities with fewer than
    * `lags` such rows are dropped. Serves the prefix backtests (`end` =
    * the split's train end) and [[FourierLinear.fitPredict]] (`end` =
    * `__cnt`). */
  private[operators] def prefixTailState(p: Panel, positioned: DataFrame, end: Column,
                                         lags: Int, aggs: Column*): DataFrame =
    positioned
      .filter(col("__rn") > end - lags && col("__rn") <= end)
      .withColumn("__rn_desc", end - col("__rn") + 1)
      .groupBy(p.entityCols: _*).agg(
        collect_list(struct(col("__rn_desc"), p.x)).as("__s"), aggs: _*)
      .withColumn("__state", sort_array(col("__s")).getField(p.value))
      .filter(size(col("__state")) >= lags)
      .drop("__s")

  /** `fh` forecast rows per entity of `df`: horizon `__h` takes element
    * `__h` of the array `preds`, its time is `futureTime(freq)` from
    * `__cutoff`; columns entity…, timeCol, value. */
  private[operators] def horizonRows(df: DataFrame, p: Panel, timeCol: String, fh: Int,
                                     freq: String, preds: Column): DataFrame =
    df.withColumn("__h", explode(sequence(lit(1), lit(fh))))
      .withColumn(p.value, element_at(preds, col("__h").cast("int")))
      .withColumn(timeCol, futureTime(freq))
      .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)

  /** The recursive linear AR map ŷ_h = b + w·state_{h−1} (state shifted
    * by each prediction) is affine in the INITIAL state: returns
    * (a_h, b_h) for h = 1..fh with ŷ_h = b_h + a_h·state_0, row 0 of the
    * state the newest value. Iterated driver-side — O(fh·lags²) doubles,
    * the companion-matrix power. */
  private[operators] def affineHorizons(intercept: Double, weights: Array[Double],
                                        fh: Int): IndexedSeq[(Array[Double], Double)] = {
    val lags = weights.length
    var a = Array.tabulate(lags, lags)((i, j) => if (i == j) 1.0 else 0.0)
    var c = new Array[Double](lags)
    (1 to fh).map { _ =>
      val ah = Array.tabulate(lags)(j => weights.zipWithIndex.map { case (w, i) => w * a(i)(j) }.sum)
      val bh = intercept + weights.zipWithIndex.map { case (w, i) => w * c(i) }.sum
      a = ah +: a.dropRight(1)
      c = bh +: c.dropRight(1)
      (ah, bh)
    }
  }

  /** One horizon of [[affineHorizons]] as flat column algebra over the
    * state elements `elem(1..lags)`: `b_h + Σ a_h(j)·elem(j)` folded
    * from b_h in ascending j, zero coefficients skipped (a non-finite
    * element under a zero coefficient leaves the sum alone). The
    * coefficients ride through StableConst: as inlined literals every
    * fit compiled a fresh Janino projection class per (dataset, fit),
    * ~2-5 ms of compile plus C2 churn per fit across the fc_* family;
    * same IEEE values, same fold order, shape-stable generated source. */
  private[operators] def affineExpr(ah: Array[Double], bh: Double, elem: Int => Column): Column = {
    import graft.functions.StableConst.{double => sd}
    ah.zipWithIndex.collect { case (w, i) if w != 0.0 => sd(w) * elem(i + 1) }
      .foldLeft(sd(bh): Column)(_ + _)
  }

  /** The recursive linear AR unroll as one lateral column per horizon:
    * `__p{h} = b0 + Σ_j lagW(j)·s_h(j) + extra(h)…`, folded strictly
    * left to right (b0, lag terms ascending j, then `extra(h)` in
    * order), where s_h(j) is the earlier prediction `__p{h−j}` for
    * j < h and the state element `elem(j − h + 1)` otherwise. Serves
    * [[FourierLinear]] (its fourier terms as `extra`),
    * [[PrefixBacktest.backtestFourier]], [[ExogLinear]] and
    * [[ExogDowLinear]] (the horizon's exog contribution); the DuckDB
    * oracles fold the same sequence. Coefficients through StableConst
    * (see [[affineExpr]]). */
  private[operators] def unrollRecursive(df: DataFrame, b0: Double, lagW: Array[Double],
                                         fh: Int, elem: Int => Column)
                                        (extra: Int => Seq[Column]): DataFrame = {
    import graft.functions.StableConst.{double => sd}
    (1 to fh).foldLeft(df) { (d, h) =>
      val stateRef = (j: Int) => if (j < h) col(s"__p${h - j}") else elem(j - h + 1)
      val terms = (1 to lagW.length).map(j => sd(lagW(j - 1)) * stateRef(j)) ++ extra(h)
      d.withColumn(s"__p$h", terms.foldLeft(sd(b0): Column)(_ + _))
    }
  }

  /** The `__p1..__p{fh}` columns of [[unrollRecursive]] as one array. */
  private[operators] def unrolledPreds(fh: Int): Column =
    array((1 to fh).map(h => col(s"__p$h")): _*)

  /** Per-entity recursive linear AR predict with broadcast
    * coefficients — SURVEY.md §7.5(1) plan A, in closed form: every
    * horizon of [[affineHorizons]] becomes one flat codegen-able
    * expression over the [[tailState]] array. No recursive expression
    * substitution (which would grow the plan exponentially in fh), no
    * per-step job. */
  def predictRecursiveLinear(p: Panel, timeCol: String, fh: Int, freq: String,
                             intercept: Double, weights: Array[Double]): DataFrame = {
    val lags = weights.length
    val state0 = tailState(p, timeCol, lags)
    val horizons = affineHorizons(intercept, weights, fh)
    // Two physical forms of the same affine map:
    //  - unrolled literal terms (zero weights skipped), fully
    //    codegen'd — every oracle-gated shape (fh ≤ 3, lags ≤ 14)
    //    stays on this bit-pinned path;
    //  - past ~700 terms (M5: 28 × 64; M4 hourly: 48 × 24) the
    //    unrolled projection's generated method topped Janino's 64 KB
    //    limit and the stage fell back to interpreted WITH a logged
    //    compile ERROR — worse, fused into the state0 aggregate it
    //    dragged the whole hashAgg stage down with it. The compact
    //    form carries A (flattened) and b as array literals and folds
    //    with transform/aggregate higher-order functions — same
    //    initial-b ascending-j association, evaluated per entity row
    //    (this frame is ONE ROW PER ENTITY, so the HOF's interpreted
    //    evaluation is free and nothing row-scale ever sees it).
    val predsCol: Column =
      if (fh.toLong * lags <= 700)
        array(horizons.map { case (ah, bh) =>
          affineExpr(ah, bh, j => element_at(col("__state"), j)) }: _*)
      else {
        val aFlat = typedLit(horizons.flatMap(_._1.toSeq))
        val bArr = typedLit(horizons.map(_._2))
        // zero weights are SKIPPED (acc passes through), matching the
        // unrolled path's `w != 0.0` collect — without the guard a
        // non-finite __state element under a zero weight would NaN
        // the compact form but not the unrolled one (ADVICE r9)
        transform(sequence(lit(1), lit(fh)), h =>
          aggregate(sequence(lit(1), lit(lags)), element_at(bArr, h),
            (acc, j) => {
              val w = element_at(aFlat, (h - lit(1)) * lit(lags) + j)
              when(w === lit(0.0), acc)
                .otherwise(acc + w * element_at(col("__state"), j))
            }))
      }
    horizonRows(state0.withColumn("__preds", predsCol), p, timeCol, fh, freq, col("__preds"))
  }
}
