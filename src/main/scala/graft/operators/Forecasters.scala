package graft.operators

import graft.core.Panel
import org.apache.spark.sql.DataFrame
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

  private[operators] def futureTime(freq: String): org.apache.spark.sql.Column =
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

  /** Per-entity recursive linear AR predict with broadcast
    * coefficients — SURVEY.md §7.5(1) plan A, in closed form: the
    * recursion ŷ_{h} = b + w·state_{h-1} with state shift is affine in
    * the INITIAL state, so the per-horizon coefficients (a_h, b_h) are
    * iterated driver-side (O(fh·lags²) doubles — the companion-matrix
    * power) and every horizon becomes one flat codegen-able expression
    * over the lag-tail array. No recursive expression substitution
    * (which would grow the plan exponentially in fh), no per-step job. */
  /* NOTE on the tail-state scaffold (rn_desc window → collect_list →
   * sort_array → completeness filter) appearing here and in
   * GbtForecaster.predictRecursiveModel, LinearForecaster (direct /
   * ensemble / exog) and KnnForecaster.queryTails (the elite KNN
   * batch, the IVF and LSH paths): the copies are DELIBERATE — each
   * site's completeness filter and carried columns differ subtly
   * (null-state handling, __cutoff, extra lag columns), and a shared
   * helper would have to parameterize all of it. Change one, check
   * all. The exact KNN one-step and recursive paths take the same
   * state from the newest row of their lag window instead
   * (KnnForecaster.Lagged: value and lag 1…L−1 not null). */
  def predictRecursiveLinear(p: Panel, timeCol: String, fh: Int, freq: String,
                             intercept: Double, weights: Array[Double]): DataFrame = {
    val lags = weights.length
    val tail = p.df
      .withColumn("__rn_desc", row_number().over(
        Window.partitionBy(p.entityCols: _*).orderBy(p.orderCols.map(_.desc): _*)))
      .filter(col("__rn_desc") <= lags)
    // state array ordered newest-first: state(0) = lag 1. Entities with
    // fewer than `lags` observations are DROPPED (like the reference's
    // check_backtest_lengths): a short __state would make
    // element_at(__state, j) throw under ANSI / go null otherwise.
    val state0 = tail.groupBy(p.entityCols: _*).agg(
      collect_list(struct(col("__rn_desc"), p.x)).as("__s"),
      max(col(timeCol)).as("__cutoff"))
      .withColumn("__state", sort_array(col("__s")).getField(p.value))
      .filter(size(col("__state")) >= lags)
      .drop("__s")
    // affine representation: state_h = A·state_0 + c, row 0 = newest
    var a = Array.tabulate(lags, lags)((i, j) => if (i == j) 1.0 else 0.0)
    var c = new Array[Double](lags)
    val horizons = (1 to fh).map { _ =>
      val ah = Array.tabulate(lags)(j => weights.zipWithIndex.map { case (w, i) => w * a(i)(j) }.sum)
      val bh = intercept + weights.zipWithIndex.map { case (w, i) => w * c(i) }.sum
      a = ah +: a.dropRight(1)
      c = bh +: c.dropRight(1)
      (ah, bh)
    }
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
    // fitted coefficients ride through StableConst (r15): as inlined
    // literals every fit compiled a FRESH Janino projection class per
    // (dataset, fit) — unwarmable, ~2-5 ms compile + C2 churn per fit
    // across the whole fc_* family every bench run. Same IEEE values,
    // same fold order; only the generated source becomes shape-stable.
    val predsCol: org.apache.spark.sql.Column =
      if (fh.toLong * lags <= 700) {
        import graft.functions.StableConst.{double => sd}
        val preds = horizons.map { case (ah, bh) =>
          ah.zipWithIndex.collect { case (w, i) if w != 0.0 => sd(w) * element_at(col("__state"), i + 1) }
            .foldLeft(sd(bh): org.apache.spark.sql.Column)(_ + _)
        }
        array(preds: _*)
      } else {
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
    state0.withColumn("__preds", predsCol)
      .withColumn("__h", explode(sequence(lit(1), lit(fh))))
      .withColumn(p.value, element_at(col("__preds"), col("__h").cast("int")))
      .withColumn(timeCol, futureTime(freq))
      .select((p.entityCols ++ Seq(col(timeCol), col(p.value))): _*)
  }
}
